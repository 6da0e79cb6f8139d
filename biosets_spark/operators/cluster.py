"""Embedding-space clustering and semantic (cluster-then-dedup)
deduplication.

No reference counterpart (BASELINE.json extension surface): these are
the curation primitives a 100 TB training-data pipeline runs after
embedding its corpus — Lloyd's k-means to partition the embedding
space, and SemDeDup-style within-cluster near-duplicate pruning
(Abbas et al. 2023, arXiv:2303.09540: cluster first, then compare
pairs ONLY inside each cluster, turning the O(n^2) all-pairs problem
into sum-of-cluster-sizes-squared with k chosen so clusters stay
small).

Exactness contract (what makes these differentially checkable):
every distance, dot product, and threshold test runs in EXACT
integer/decimal arithmetic on a fixed grid — components are snapped
to the 1e-6 grid as scaled BIGINTs (``FLOOR(x*1e6 + 0.5)``), squared
distances and dot products are integer sums (bounded: |x| <= 2.0 and
dim <= 512 keeps every per-pair sum under 2^62), and the cosine
threshold ``cos >= num/den`` is evaluated as
``dot > 0 AND dot^2 * den^2 >= num^2 * |a|^2 * |b|^2`` in exact wide
integers (Python arbitrary precision on the Spark side, HUGEINT in
the oracle) — no sqrt, no float division, so Spark and an ANSI-SQL
oracle agree
bit-for-bit even when a pair lands exactly ON the threshold, and an
iterative assignment can never diverge on an ulp tie (the failure
class q_pca_power hit in r8).

Centroid means use a positive-offset grid: scaled components are
shifted by +OFFSET (2^21) so the half-up rounded mean
``(2*sum + n) // (2*n)`` divides positive integers only — floor-div
and truncating-div agree on positives, sidestepping the Spark
``div``-vs-DuckDB ``//`` negative-operand mismatch (both truncate
toward zero, Python floors; on positives all three are one function).

Scale shape:
- k-means: each Lloyd iteration is ONE pass over the data (the k
  centroids ride along as literal expressions — k*dim longs, JVM-side
  argmin over an array of (dist, cell) structs) plus ONE partial
  aggregate of (cell, pos) component sums (map-side combined; k*dim
  groups, tiny), collected to the driver (k*dim longs) to build the
  next iteration's literals. No per-row Python, no global windows.
- semantic dedup: one shuffle on the cell id into a per-cell Arrow
  kernel (exact int64 Gram matmul — the similarity.py bucket-kernel
  pattern). Pick k proportional to n/target_cell_size (SemDeDup uses
  ~100k clusters at web scale) so each cell's quadratic stays bounded.
  Only (id, cell, vec) rows shuffle — never document bodies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from .. import pins
from ..scope import origin

SCALE = 1_000_000
# strictly greater than SCALE * max|component| (contract: |x| < 2.0);
# makes every offset-space component positive so the M-step's
# half-up integer mean is engine-portable (see module docstring).
OFFSET = 1 << 21

def scaled_vec(c: Column, offset: int = 0) -> Column:
    """array<long>: components snapped to the 1e-6 grid (half-up),
    optionally shifted into the positive offset space."""
    return F.transform(
        c,
        lambda x: (F.floor(x.cast("double") * lit(float(SCALE)) + lit(0.5))
                   + lit(offset)).cast("long"),
    )


def _sqdist(v: Column, cent: list[int]) -> Column:
    """Exact squared euclidean distance between a scaled vector column
    and a literal centroid (long arithmetic; offsets cancel). The
    centroid rides a folded array Literal via the SQL parser (r12):
    the former ``F.array(*[lit(x) ...])`` was a CreateArray evaluated
    PER ROW (r11 probe: 3x on a 1M scan) AND cost one py4j call per
    element on the driver (~0.5 ms each — k=16 x dim=64 assignment
    built ~1k elements per plan); same long values either way."""
    from .pq import _long_array_lit

    c = _long_array_lit([int(x) for x in cent])
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
        lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# past this k the literal-centroid expression stops being reasonable
# (k * dim interpreted HOF folds per row — measured 75 s for k=64 on
# a 20k corpus vs seconds via BLAS); assignment switches to the
# Arrow kernel, which computes the IDENTICAL exact integers
_LITERAL_K_MAX = 16


@origin("assign_cells")
def assign_cells(
    df: DataFrame, cents: list[list[int]], vec_col: str = "_v"
) -> DataFrame:
    """E-step: add ``_cell`` (nearest centroid, exact integer argmin,
    ties to the lowest cell id) and ``_dist`` (exact squared distance).

    Small k: one JVM expression per row — array_min over k (dist,
    cell) structs compares lexicographically, mirroring the oracle's
    ``ROW_NUMBER() OVER (ORDER BY dist, cell)``. Larger k (SemDeDup
    runs ~100k cells at web scale): an Arrow kernel computes
    ``|v|^2 - 2 V.C^T + |c|^2`` with an exact int64 BLAS matmul
    (every term bounded by 2^60 under the module's component
    contract) and np.argmin's first-minimum tie rule — the same
    lowest-cell tie-break, so the two paths are bit-identical
    (pinned by a pytest cross-check).
    """
    if len(cents) <= _LITERAL_K_MAX:
        cands = F.array(*[
            F.struct(_sqdist(col(vec_col), cv).alias("dist"),
                     lit(ci).alias("cell"))
            for ci, cv in enumerate(cents)
        ])
        best = F.array_min(cands)
        return df.withColumn("_best", best) \
                 .withColumn("_cell", col("_best")["cell"]) \
                 .withColumn("_dist", col("_best")["dist"]) \
                 .drop("_best")
    return _assign_cells_kernel(df, cents, vec_col)


def _assign_cells_kernel(
    df: DataFrame, cents: list[list[int]], vec_col: str
) -> DataFrame:
    import numpy as np

    C = np.asarray(cents, dtype=np.int64)
    cn2 = (C * C).sum(axis=1)
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    # StructType.add mutates in place — never call it on df.schema
    # (the DataFrame caches that object; mutating it corrupts the
    # frame's own column list)
    out_schema = StructType(list(df.schema.fields) + [
        StructField("_cell", IntegerType()),
        StructField("_dist", LongType()),
    ])

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.asarray(pdf[vec_col].tolist(), dtype=np.int64)
            G = V @ C.T
            vn2 = (V * V).sum(axis=1)
            D = vn2[:, None] - 2 * G + cn2[None, :]
            cell = D.argmin(axis=1)  # first minimum = lowest cell id
            out = pdf.copy()
            out["_cell"] = cell.astype("int32")
            out["_dist"] = D[np.arange(len(V)), cell]
            yield out

    return df.mapInPandas(batches, schema=out_schema)


def sample_centroids(
    df: DataFrame, k: int, id_col: str, vec_col: str, seed: int = 42
) -> list[list[int]]:
    """Deterministic, engine-portable centroid init: the first k rows
    ordered by ``md5(CAST(id AS VARCHAR) || '<seed>')`` — the same
    permutation ivf_build uses (similarity.py), reproducible by the
    DuckDB oracle with the identical expression. Returns SCALED
    vectors (the caller picks the offset via vec_col's construction).
    """
    rows = (
        df.select(vec_col)
        .orderBy(F.md5(F.concat(col(id_col).cast("string"), lit(str(seed)))))
        .limit(k)
        .collect()
    )
    return [[int(x) for x in r[vec_col]] for r in rows]


@origin("kmeans_fit")
def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, list[list[int]]]:
    """Lloyd's k-means on the exact 1e-6 grid: ``iters`` update cycles
    (assign -> half-up integer mean), then a final assignment with the
    fitted centroids.

    Returns ``(assigned, cents)``: ``assigned`` keeps the input's
    columns plus ``_cell`` (int) and ``_dist`` (exact squared grid
    distance, long); ``cents`` are the fitted centroids in the
    positive OFFSET space. Empty cells keep their previous centroid
    (mirrored by the oracle's COALESCE over a LEFT JOIN).

    Each iteration costs one scan + one (cell, pos) partial aggregate
    (k*dim groups) + a k*dim-long driver collect — the collect is the
    model, not the data, so the loop is 100 TB-safe; the data never
    funnels through the driver.
    """
    v = df.withColumn("_v", scaled_vec(col(vec_col), OFFSET))
    if iters > 0:
        # every iteration re-reads the scaled vectors (assignment for
        # the M-step aggregate); pin them once instead of re-scanning
        # and re-scaling the source per pass (the MLlib convention).
        # Released before return — the caller's final assignment plan
        # keeps its own lineage.
        v = pins.pin(v)
    try:
        cents = sample_centroids(v, k, id_col, "_v", seed)
        dim = len(cents[0]) if cents else 0
        for _ in range(iters):
            a = assign_cells(v, cents)
            stats = (
                a.select("_cell", F.posexplode("_v").alias("_pos", "_c"))
                .groupBy("_cell", "_pos")
                .agg(F.sum("_c").alias("_s"), F.count("*").alias("_n"))
                .collect()
            )
            by_cell: dict[int, dict[int, int]] = {}
            for r in stats:
                by_cell.setdefault(r["_cell"], {})[r["_pos"]] = (
                    2 * int(r["_s"]) + int(r["_n"])
                ) // (2 * int(r["_n"]))
            cents = [
                [by_cell[ci][p] for p in range(dim)] if ci in by_cell else cv
                for ci, cv in enumerate(cents)
            ]
        return assign_cells(v, cents).drop("_v"), cents
    finally:
        if iters > 0:
            pins.unpin(v)


@origin("prune_farthest")
def prune_farthest(
    assigned: DataFrame,
    frac_num: int = 1,
    frac_den: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Prototypicality pruning (the Sorscher et al. 2022 'Beyond
    neural scaling laws' recipe, arXiv:2206.14486): within each
    k-means cell, drop the ``frac_num/frac_den`` fraction of examples
    FARTHEST from their centroid — the outlier tail of each cluster.

    Input is ``kmeans_fit``'s assignment (needs ``_cell`` and the
    exact integer ``_dist``); adds ``_keep`` (false for the pruned
    tail). The per-cell prune count is exact integer arithmetic
    ``(n_c * frac_num) // frac_den`` and the farthest-first order is
    total (``_dist`` DESC, id DESC), so the kept SET is deterministic
    and engine-portable — no float rank, no sampled quantile.

    Scale: one window over the cell partitioning the assignment
    already has (cells are the partition key — thousands of them at
    real k, so no single-partition window), plus a broadcast of the
    k-row per-cell counts.
    """
    if not (0 <= frac_num < frac_den):
        raise ValueError(
            f"prune fraction must be in [0, 1): got {frac_num}/{frac_den}")
    from pyspark.sql import Window

    counts = assigned.groupBy("_cell").agg(F.count("*").alias("_nc"))
    w = Window.partitionBy("_cell").orderBy(
        col("_dist").desc(), col(id_col).desc())
    return (
        assigned.withColumn("_rank", F.row_number().over(w))
        .join(F.broadcast(counts), "_cell")
        .withColumn(
            "_keep",
            # positive-int floor-div (SQL `div` truncates; operands are
            # non-negative, so it equals the oracle's `//`)
            col("_rank") > F.expr(f"(_nc * {int(frac_num)}) div {int(frac_den)}"),
        )
        .drop("_rank", "_nc")
    )


def _semantic_assigned(
    df: DataFrame, k: int, id_col: str, vec_col: str, seed: int
) -> DataFrame:
    """Shared SemDeDup E-step: (_id, _v, _cell) — grid vector and
    nearest sampled centroid (squared norms come out of the pair
    kernel's Gram diagonal, not a separate pass).

    The (id, grid vector) frame is pinned as a lazy local checkpoint
    (a cache would add a table-cache job under AQE): the centroid
    sample's job fills it and the assignment reads it back, instead of
    re-running the caller's plan (a corpus pipeline's quality gate,
    exact-dedup window and embedding join) a second time. ``release``
    frees it after the caller's collect."""
    v = pins.pin(df.select(col(id_col).alias("_id"),
                           scaled_vec(col(vec_col)).alias("_v")), checkpoint=True)
    cents = sample_centroids(v, k, "_id", "_v", seed)
    return assign_cells(v, cents).drop("_dist")


def _dup_pairs_from(a: DataFrame, threshold_num: int,
                    threshold_den: int) -> DataFrame:
    """Within-cell pair stage as a per-cell Arrow kernel (the
    similarity.py bucket-kernel pattern): one applyInPandas task per
    cell computes the cell's exact Gram matrix with an int64 BLAS
    matmul — grid components are <= 2e6 in magnitude and dim <= 512,
    so every entry is bounded by 2^62 (no int64 overflow) and the
    matmul is EXACT, bit-identical to the JVM zip_with/aggregate
    formulation it replaces (measured 2.7x faster at sf0.1: the
    per-pair interpreted HOF fold was the cost). The threshold test
    dot^2 * den^2 >= num^2 * na2 * nb2 overflows int64, so it runs in
    Python arbitrary-precision ints over the dot>0 candidates only.

    Task memory is O(cell_size * dim + cell_size^2) — bounded by the
    caller's k (the SemDeDup contract: pick k ~ n/target_cell_size);
    a hot cell is one big task, split no further, which is the
    algorithm's own skew bound, not a plan artifact."""
    if not (0 < threshold_num <= threshold_den):
        raise ValueError(
            f"cosine threshold must be in (0, 1]: got "
            f"{threshold_num}/{threshold_den}")
    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den

    def kernel(key, pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("_id")
        ids = pdf["_id"].to_numpy()
        m = len(ids)
        if m < 2:
            return pd.DataFrame({"cell": [], "id_a": [], "id_b": []})
        V = np.asarray(pdf["_v"].tolist(), dtype=np.int64)
        G = V @ V.T
        n2 = np.diagonal(G)
        ia, ib = np.triu_indices(m, k=1)
        dots = G[ia, ib]
        pos = dots > 0
        ia, ib, dots = ia[pos], ib[pos], dots[pos]
        # vectorized float64 prefilter with a wide safety band: the
        # products are exact-int-representable to ~1e-15 relative, so
        # pairs decided outside a 1e-9 band are decided EXACTLY; only
        # the (usually empty) border band pays the arbitrary-precision
        # integer compare. Semantics identical to all-exact, just fast.
        lhs = (dots.astype(np.float64) ** 2) * den2
        rhs = (n2[ia].astype(np.float64) * n2[ib].astype(np.float64)) * num2
        sure_in = lhs >= rhs * (1.0 + 1e-9)
        sure_out = lhs < rhs * (1.0 - 1e-9)
        border = ~(sure_in | sure_out)
        if border.any():
            for idx in np.flatnonzero(border):
                d = int(dots[idx])
                exact = d * d * den2 >= num2 * int(n2[ia[idx]]) * int(n2[ib[idx]])
                sure_in[idx] = exact
        ka, kb = ia[sure_in], ib[sure_in]
        # strict id order: with duplicate _id values the sorted triu
        # pairing could emit id_a == id_b rows, which the strict
        # a.vec_id < b.vec_id oracle excludes — mask them out so the
        # id-uniqueness contract is enforced here, not assumed
        strict = ids[ka] < ids[kb]
        ka, kb = ka[strict], kb[strict]
        return pd.DataFrame({
            "cell": np.full(len(ka), int(key[0]), dtype="int32"),
            "id_a": ids[ka], "id_b": ids[kb],
        })

    return a.select("_cell", "_id", "_v").groupBy("_cell").applyInPandas(
        kernel, schema="cell int, id_a long, id_b long")


@origin("semantic_dup_pairs")
def semantic_dup_pairs(
    df: DataFrame,
    k: int = 16,
    threshold_num: int = 42,
    threshold_den: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """SemDeDup within-cell near-duplicate pairs: assign every vector
    to its nearest sampled centroid, then emit (cell, id_a, id_b) for
    same-cell pairs with ``cos(a, b) >= threshold_num/threshold_den``
    (id_a < id_b).

    The threshold test is exact (module docstring): squared-compare on
    grid integers — Python arbitrary-precision ints engine-side,
    HUGEINT (int128) in the DuckDB oracles. Note the oracle-side
    bound: ``den2 * dot^2`` exceeds int128 once ``threshold_den``
    approaches ~1e4 at this grid scale, so oracles (and any new
    callers wanting oracle parity) must keep ``threshold_den`` small
    (the shipped den=100 is safely inside int128); the engine itself
    has no overflow bound. Pairs that cross cell boundaries are not
    compared — that recall loss is SemDeDup's documented trade for
    killing the O(n^2) join.
    """
    a = _semantic_assigned(df, k, id_col, vec_col, seed)
    return _dup_pairs_from(a, threshold_num, threshold_den)


@origin("semantic_dedup_stats")
def semantic_dedup_stats(
    df: DataFrame,
    k: int = 16,
    threshold_num: int = 42,
    threshold_den: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Per-cell SemDeDup summary: (cell, n_docs, n_pairs, n_pruned).

    ``n_pruned`` counts documents that would be dropped under the
    keep-lowest-id policy — any doc with at least one within-cell
    duplicate of smaller id (COUNT(DISTINCT id_b) over the pair set).
    """
    a = _semantic_assigned(df, k, id_col, vec_col, seed)
    sizes = a.groupBy(col("_cell").alias("cell")) \
             .agg(F.count("*").alias("n_docs"))
    dup = _dup_pairs_from(a, threshold_num, threshold_den)
    per_cell = dup.groupBy("cell").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("id_b").alias("n_pruned"),
    )
    return (
        sizes.join(per_cell, "cell", "left")
        .select(
            "cell", "n_docs",
            F.coalesce(col("n_pairs"), lit(0)).alias("n_pairs"),
            F.coalesce(col("n_pruned"), lit(0)).alias("n_pruned"),
        )
        .orderBy("cell")
    )
