"""Product quantization (PQ) — the vector-compression scale path for
similarity search (Jégou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011).

No reference counterpart (extension surface, like operators/
similarity.py). At 100 TB an embedding column is the dominant payload
(64 float32 = 256 B/row); PQ replaces it with m small codes
(m=4..16 bytes/row, 16-64x smaller), and query scoring becomes a
table LOOKUP per subspace instead of a full-dimension dot product —
the asymmetric distance computation (ADC) scan reads only the code
column, never the vectors.

Exactness contract (the cluster.py discipline applied to PQ): all
arithmetic runs on the 1e-6 integer grid — components snap to scaled
BIGINTs, subspace distances are exact long sums of squares (bounded:
|x| <= 2.0, dsub <= 512 keeps every sum under 2^55), argmin ties
break to the LOWEST code, and ADC scores are exact long sums of m
table entries. No float appears anywhere, so a DuckDB oracle
reproduces every code and score bit-for-bit.

Codebook construction is the deterministic md5-ordered row sample the
IVF / k-means operators use (one sampled row contributes its j-th
subvector to subspace j's codebook) — reproducible cross-engine, and
refinable with the same Lloyd machinery if a caller wants trained
codebooks (cluster.kmeans_fit on each subspace; not done here to keep
the oracle a single CTE chain).

Scale shape:
- build: one ORDER BY md5 LIMIT n_codes collect — model-sized.
- encode: ONE Arrow pass over the vectors (exact int64 numpy; the
  m * n_codes interpreted-HOF alternative costs ~50 us per fold per
  row — the r9-measured wall the similarity kernels exist to avoid).
  Output is (row, array<m smallint>) — the vectors never shuffle.
- ADC top-k: the query's m * n_codes distance table is computed
  driver-side in exact Python ints and rides into a pure-JVM
  expression (element_at on literal arrays summed over subspaces);
  the scan reads ONLY the code column, TakeOrdered keeps k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from .. import pins
from ..scope import origin
from .cluster import SCALE  # 1e-6 grid, shared with kmeans/semantic


def _scaled_rows(df: DataFrame, id_col: str, vec_col: str, n: int, seed: int,
                 pre_scaled: bool = False):
    """The md5-ordered deterministic sample, grid-scaled (the
    ivf_build / sample_centroids permutation — identical SQL twin:
    ORDER BY md5(CAST(id AS VARCHAR) || '<seed>') LIMIT n).
    ``pre_scaled``: ``vec_col`` already holds exact grid longs (e.g.
    IVF residuals) — no snap."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.concat(col(id_col).cast("string"), lit(str(seed)))))
        .limit(n)
        .collect()
    )
    if pre_scaled:
        return [[int(x) for x in r[vec_col]] for r in rows]
    return [
        [int(__import__("math").floor(float(x) * SCALE + 0.5)) for x in r[vec_col]]
        for r in rows
    ]


def pq_codebooks(
    df: DataFrame,
    m: int = 4,
    n_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    pre_scaled: bool = False,
) -> list[list[list[int]]]:
    """``codebooks[j][c]`` = scaled subvector j of the c-th sampled
    row: m subspaces x n_codes codes x (dim/m) grid components.
    Requires dim % m == 0 (a ragged last subspace would make the
    subspace id a per-position case split in both engines)."""
    sample = _scaled_rows(df, id_col, vec_col, n_codes, seed,
                          pre_scaled=pre_scaled)
    if not sample:
        raise ValueError("pq_codebooks: empty input")
    dim = len(sample[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        [vec[j * dsub:(j + 1) * dsub] for vec in sample]
        for j in range(m)
    ]


@origin("pq_encode")
def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    dist_col: str | None = None,
    pre_scaled: bool = False,
) -> DataFrame:
    """Add ``out_col``: array<smallint> of m codes — per subspace, the
    argmin over exact integer squared L2 to the codebook entries, ties
    to the LOWEST code (np.argmin first-minimum == the oracle's
    ROW_NUMBER() OVER (ORDER BY dist, code)).

    One Arrow pass; integer arithmetic end-to-end, so the kernel is
    bit-identical to any engine's evaluation by construction (no IEEE
    fold-order caveats — the reason the cosine kernels need
    ``_seq_dots`` does not arise on the grid).

    ``dist_col`` (optional): also emit array<long> of the m EXACT
    squared grid distances to the chosen codes (the per-subspace
    quantization distortion — what a codebook-quality audit sums).
    Costs one extra |v_sub|^2 row term per subspace; the argmin path
    itself still drops it."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType, LongType, ShortType, StructField, StructType)

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    C = [np.asarray(cb, dtype=np.int64) for cb in codebooks]  # m x (n_codes, dsub)
    fields = list(df.schema.fields) + [
        StructField(out_col, ArrayType(ShortType(), containsNull=False))]
    if dist_col is not None:
        fields.append(
            StructField(dist_col, ArrayType(LongType(), containsNull=False)))
    out_schema = StructType(fields)

    # |v - c|^2 = |v|^2 - 2 v.c + |c|^2 — the int64 matmul form: one
    # (n, dsub) x (dsub, codes) product per subspace instead of the
    # (n, codes, dsub) broadcast-difference temp (which allocated
    # ~16 KB/row and measured 45 s at 1M x 64; this form measures
    # ~12 s). |v|^2 is constant per row so it cannot change the
    # argmin — dropped from the argmin entirely; every retained term
    # is exact int64 (bounded by the module contract), so codes are
    # unchanged. When dist_col is requested, |v_sub|^2 is added back
    # to the winning score only (n longs, not n x codes).
    C2 = [np.einsum("cd,cd->c", cb, cb) for cb in C]  # (n_codes,) per j

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            if pre_scaled:
                G = np.asarray(pdf[vec_col].tolist(), dtype=np.int64)
            else:
                V = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
                G = np.floor(V * SCALE + 0.5).astype(np.int64)
            codes = np.empty((len(G), m), dtype=np.int16)
            dists = (np.empty((len(G), m), dtype=np.int64)
                     if dist_col is not None else None)
            for j in range(m):
                sub = G[:, j * dsub:(j + 1) * dsub]             # (n, dsub)
                score = C2[j][None, :] - 2 * (sub @ C[j].T)     # (n, codes)
                cj = np.argmin(score, axis=1)                   # first-min tie
                codes[:, j] = cj
                if dists is not None:
                    vn2 = np.einsum("nd,nd->n", sub, sub)
                    dists[:, j] = vn2 + score[np.arange(len(G)), cj]
            out = pdf.copy()
            out[out_col] = list(codes)
            if dists is not None:
                out[dist_col] = list(dists)
            yield out

    return df.mapInPandas(batches, schema=out_schema)


def pq_train_codebooks(
    df: DataFrame,
    m: int = 4,
    n_codes: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    pre_scaled: bool = False,
) -> list[list[list[int]]]:
    """Lloyd-trained PQ codebooks on the exact grid — the kmeans_fit
    discipline (operators/cluster.py) applied per subspace, replacing
    the raw md5 row sample as the production codebook path (r11
    verdict: raw sampled codebooks measured ADC recall@10 = 0.10 on
    the clustered 1M probe; training is what lifts it).

    Per iteration, ALL m subspaces train in one pass pair:
      E-step: one Arrow encode pass (``pq_encode`` kernel — exact
        integer argmin, ties to the lowest code);
      M-step: one posexplode aggregate keyed (subspace, code,
        position) — m*n_codes*dsub = n_codes*dim groups with map-side
        combine — and one model-sized collect (n_codes*dim longs).
    The data never funnels through the driver, so the loop is
    100 TB-safe, exactly like kmeans_fit.

    New components are the half-up integer mean computed with Python
    floor-div in SIGNED grid space. Engine-portability: the DuckDB
    oracle trains in the +2^21 OFFSET space (all components positive,
    where DuckDB ``//`` agrees with floor-div) — the two are exactly
    equivalent because (2*(s + n*OFF) + n) // (2*n) == OFF +
    (2*s + n) // (2*n) (the added term is an integer multiple of the
    denominator), and every distance/argmin is translation-invariant.
    Empty (subspace, code) cells keep their previous entry (the
    oracle's COALESCE over a LEFT JOIN).

    Returns codebooks in signed grid space — a drop-in for
    ``pq_encode`` / ``pq_adc_topk`` / ``pq_adc_rerank_topk``."""
    from .cluster import scaled_vec

    cbs = pq_codebooks(df, m=m, n_codes=n_codes, id_col=id_col,
                       vec_col=vec_col, seed=seed, pre_scaled=pre_scaled)
    if iters <= 0:
        return cbs
    dsub = len(cbs[0][0])
    src = df.select(id_col, vec_col)
    if iters > 1:
        # each iteration re-reads the vectors (encode + M-step); pin
        # them once instead of re-scanning the source per pass
        src = pins.pin(src)
    try:
        grid = (col(vec_col) if pre_scaled
                else scaled_vec(col(vec_col)))
        for _ in range(iters):
            enc = pq_encode(src, cbs, id_col=id_col, vec_col=vec_col,
                            out_col="_pq", pre_scaled=pre_scaled)
            stats = (
                enc.select(
                    col("_pq"),
                    F.posexplode(grid).alias("_pos", "_c"),
                )
                .select(
                    F.floor(col("_pos") / lit(dsub)).cast("int").alias("_sub"),
                    (col("_pos") % lit(dsub)).alias("_p"),
                    col("_c"),
                    col("_pq"),
                )
                .select(
                    "_sub", "_p", "_c",
                    F.element_at(col("_pq"), col("_sub") + 1)
                    .cast("int").alias("_code"),
                )
                .groupBy("_sub", "_code", "_p")
                .agg(F.sum("_c").alias("_s"), F.count("*").alias("_n"))
                .collect()
            )
            upd: dict[tuple[int, int], dict[int, int]] = {}
            for r in stats:
                upd.setdefault((r["_sub"], r["_code"]), {})[r["_p"]] = (
                    2 * int(r["_s"]) + int(r["_n"])) // (2 * int(r["_n"]))
            cbs = [
                [
                    [upd[(j, c)][p] for p in range(dsub)]
                    if (j, c) in upd else list(cv)
                    for c, cv in enumerate(cb)
                ]
                for j, cb in enumerate(cbs)
            ]
        return cbs
    finally:
        if iters > 1:
            pins.unpin(src)


def pq_distance_table(
    codebooks: list[list[list[int]]], query_vec: list[float],
    pre_scaled: bool = False,
) -> list[list[int]]:
    """``table[j][c]`` = exact squared grid distance from the query's
    subvector j to code c — driver-side Python ints (model-sized:
    m x n_codes longs). ``pre_scaled``: query_vec is already exact
    grid ints (e.g. an IVF residual)."""
    import math

    if pre_scaled:
        q = [int(x) for x in query_vec]
    else:
        q = [int(math.floor(float(x) * SCALE + 0.5)) for x in query_vec]
    dsub = len(codebooks[0][0])
    return [
        [
            sum((q[j * dsub + p] - cv[p]) ** 2 for p in range(dsub))
            for cv in cb
        ]
        for j, cb in enumerate(codebooks)
    ]


def _long_array_lit(vals: list[int]):
    """A long-array literal built through the SQL parser instead of
    ``F.lit(list)``: py4j converts lit's elements one JVM call at a
    time (~0.5-0.8 ms EACH — a m=8 x 256-code distance table costs
    ~2 s of driver wall per query, and the r12 residual tables at
    n_probe=32 cost ~40 s), while ``F.expr("array(...L)")`` parses
    JVM-side in milliseconds and constant-folds to the identical
    array Literal (verified in the physical plan). Both are zero
    per-row cost after folding; only driver build time differs
    (measured 8192 elements: lit 4.76 s, expr 0.007 s)."""
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in vals) + ")")


def _long_array2_lit(rows: list[list[int]]):
    """Nested array<array<long>> literal via the SQL parser — same
    rationale as ``_long_array_lit`` (lit() pays per-element py4j;
    the residual ivfpq centlit at 256 cells x 64 dims is 16k
    elements, ~8-13 s of driver wall through lit)."""
    return F.expr(
        "array(" + ",".join(
            "array(" + ",".join(f"{int(v)}L" for v in row) + ")"
            for row in rows) + ")")


def _double_array_lit(vals: list[float]):
    """A double-array literal via the SQL parser. Each element rides
    ``CAST('<repr>' AS DOUBLE)``: Python repr() is the shortest
    round-trip decimal for the IEEE double and Spark's string->double
    cast is correctly rounded, so the parsed value is bit-identical
    to lit(float(x)) — only the driver build cost differs (and the
    former ``F.array(*[lit(x)...])`` shape was additionally a
    CreateArray evaluated per row)."""
    return F.expr(
        "array(" + ",".join(
            f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals) + ")")


def _adc_score_expr(table: list[list[int]], code_col: str):
    """The ADC scoring expression: sum over subspaces of the query's
    precomputed distance-table entry at the row's code — m
    ``element_at`` lookups on literal arrays, pure JVM. The literals
    are true array Literals (constant-folded, zero per-row
    construction cost; F.array(*lits) is a CreateArray with n_codes
    children evaluated PER ROW — 3x slower on a 1M scan, r11 probe),
    built via ``_long_array_lit`` (driver-cheap)."""
    score = None
    for j, row in enumerate(table):
        t = _long_array_lit(row)
        term = F.element_at(t, F.element_at(col(code_col), j + 1).cast("int") + 1)
        score = term if score is None else score + term
    return score


@origin("pq_adc_topk")
def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list[list[list[int]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    exclude_self: int | None = None,
) -> DataFrame:
    """Approximate top-k by ADC: score = sum over subspaces of the
    query's precomputed distance-table entry at the row's code — m
    ``element_at`` lookups on literal arrays, pure JVM, reads ONLY
    (id, code). Returns (neighbor_id, adc_score) ordered score ASC
    (smaller = closer), id ASC; exact long scores, so ranking ties
    are deterministic cross-engine."""
    table = pq_distance_table(codebooks, query_vec)
    out = encoded.select(col(id_col).alias("neighbor_id"),
                         _adc_score_expr(table, code_col).alias("adc_score"))
    if exclude_self is not None:
        out = out.filter(col("neighbor_id") != exclude_self)
    return out.orderBy(col("adc_score").asc(), col("neighbor_id")).limit(k)


@origin("pq_adc_rerank_topk")
def pq_adc_rerank_topk(
    encoded: DataFrame,
    codebooks: list[list[list[int]]],
    query_vec: list[float],
    vectors: DataFrame,
    k: int = 10,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    vec_col: str = "embedding",
    exclude_self: int | None = None,
) -> DataFrame:
    """The production ADC+R pattern: an ADC shortlist (default 10*k)
    from the compressed codes, then EXACT grid-L2 re-ranking of just
    the shortlist against the raw vectors — PQ's quantization floor
    limits within-cluster ranking (measured recall@10 = 0.10 on the
    r11 clustered 1M corpus without re-ranking), and the re-rank
    restores it while still reading only shortlist-many raw vectors
    (the shortlist broadcasts; the vector table is semi-join-pruned,
    never scored in full).

    Returns (neighbor_id, dist) — exact long squared grid distance,
    ordered dist ASC, id ASC; fully integer, so oracle-exact."""
    import math

    r = shortlist or 10 * k
    short = pq_adc_topk(encoded, codebooks, query_vec, k=r,
                        id_col=id_col, code_col=code_col,
                        exclude_self=exclude_self)
    qg = [int(math.floor(float(x) * SCALE + 0.5)) for x in query_vec]
    qlit = lit(qg)
    from .cluster import scaled_vec

    return (
        vectors.join(F.broadcast(short.select("neighbor_id")),
                     col(id_col) == col("neighbor_id"), "inner")
        .select(
            col("neighbor_id"),
            F.aggregate(
                F.zip_with(scaled_vec(col(vec_col)), qlit,
                           lambda a, b: (a - b) * (a - b)),
                lit(0).cast("long"), lambda acc, x: acc + x,
            ).alias("dist"),
        )
        .orderBy(col("dist").asc(), col("neighbor_id"))
        .limit(k)
    )


@origin("ivfpq_build")
def ivfpq_build(
    df: DataFrame,
    n_cells: int = 8,
    m: int = 4,
    n_codes: int = 8,
    train_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_seed: int = 7,
    code_seed: int = 42,
    by_residual: bool = False,
) -> tuple[DataFrame, list[list[int]], list[list[list[int]]]]:
    """IVF x PQ — the production 100 TB ANN layout: a grid-exact IVF
    coarse quantizer (md5-sampled centroids, exact integer L2
    assignment via cluster.assign_cells, ties to the lowest cell) over
    Lloyd-trained PQ codes.

    ``by_residual=False``: codes quantize the RAW vectors (faiss
    IndexIVFPQ(by_residual=False)) — the shallowest oracle CTE chain.
    ``by_residual=True``: codes quantize ``v - centroid(cell)`` (the
    faiss default) — the codebook's resolution concentrates on the
    noise-scale WITHIN-cell differences instead of spanning cell
    centers, which is what lifts raw-ADC recall on clustered corpora
    (r12 1M probe, see PERFORMANCE.md). Residuals are exact grid
    differences (zip_with on longs against an element_at into the
    literal centroid table), so the composition stays fully
    oracle-reproducible.

    Returns ``(encoded, cents, codebooks)``: ``encoded`` is
    (id, _cell int, pq_code array<smallint>) — the only columns a
    cell-pruned ADC scan ever reads (the raw vectors never shuffle and
    never enter the search path); ``cents`` are the SCALED coarse
    centroids; ``codebooks`` the signed-grid PQ codebooks (residual
    space when by_residual).

    Scale shape: centroid sample + codebook training are model-sized
    driver state (the kmeans_fit contract); assignment + encoding are
    ONE combined Arrow/JVM pass over the vectors. At 100 TB the
    encoded table is 16-64x smaller than the vector column and is
    what gets partitioned by _cell (write with
    ``partitionBy("_cell")`` so a probe prunes at the file level)."""
    from .cluster import assign_cells, sample_centroids, scaled_vec

    v = df.select(id_col, vec_col).withColumn(
        "_v", scaled_vec(col(vec_col)))
    cents = sample_centroids(v, n_cells, id_col, "_v", seed=cell_seed)
    if not by_residual:
        cbs = pq_train_codebooks(df, m=m, n_codes=n_codes,
                                 iters=train_iters, id_col=id_col,
                                 vec_col=vec_col, seed=code_seed)
        assigned = assign_cells(v, cents).drop("_dist", "_v")
        encoded = pq_encode(assigned, cbs, id_col=id_col, vec_col=vec_col) \
            .select(id_col, "_cell", "pq_code")
        return encoded, cents, cbs
    # residual space: r = grid(v) - centroid(cell), exact longs.
    # centlit is one constant-folded array<array<long>> literal;
    # element_at picks the row's centroid, zip_with subtracts.
    centlit = _long_array2_lit([[int(x) for x in cv] for cv in cents])
    resid = (
        assign_cells(v, cents).drop("_dist")
        .withColumn("_resid", F.zip_with(
            col("_v"), F.element_at(centlit, col("_cell") + 1),
            lambda a, b: a - b))
        .drop("_v")
    )
    if train_iters > 0:
        # training re-reads the residuals every iteration — pin once
        resid = pins.pin(resid)
    try:
        cbs = pq_train_codebooks(resid, m=m, n_codes=n_codes,
                                 iters=train_iters, id_col=id_col,
                                 vec_col="_resid", seed=code_seed,
                                 pre_scaled=True)
        encoded = pq_encode(resid, cbs, id_col=id_col, vec_col="_resid",
                            pre_scaled=True) \
            .select(id_col, "_cell", "pq_code")
        # materialization happens at the caller's first action; the
        # pin only helps the multi-pass training above
        return encoded, cents, cbs
    finally:
        if train_iters > 0:
            pins.unpin(resid)


@origin("ivfpq_adc_topk")
def ivfpq_adc_topk(
    encoded: DataFrame,
    cents: list[list[int]],
    codebooks: list[list[list[int]]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    exclude_self: int | None = None,
    by_residual: bool = False,
) -> DataFrame:
    """Cell-pruned ADC top-k: rank the coarse cells by EXACT grid L2
    from the query (driver-side over the model-sized centroid list,
    ties to the lowest cell), keep ``n_probe``, and ADC-scan ONLY
    those cells' codes — the scan reads n_probe/n_cells of the code
    table (file-pruned when the table is partitioned by _cell) and
    none of the raw vectors. Returns (neighbor_id, adc_score) ordered
    score ASC, id ASC; exact long scores, deterministic cross-engine.

    ``by_residual`` must match the build: the distance table is then
    PER PROBED CELL (query residual q - centroid_c against the
    residual-space codebooks), but the scan stays ONE pass — the
    row's table row is selected with ``array_position(lit(probe),
    _cell)`` and one FLAT per-subspace literal indexed
    ``(probe_idx-1)*n_codes + code``, so the plan is a single
    isin-pruned scan with m O(1) lookups per row. Two rejected
    shapes, both measured at 1M x 256 cells: a union of one filtered
    scan per probed cell repays the full job/scan setup PER BRANCH
    (~1.5 s/branch: 10.6 s/query at n_probe=8, 50.6 at 32), and a
    nested array-of-arrays literal executes fine but costs 13-48 s of
    DRIVER time to construct through py4j (element-wise conversion).
    The flat form builds in milliseconds and executes ~1 s/query flat
    in n_probe.

    The ``isin`` probe filter is a pushable IN predicate: over a
    _cell-partitioned parquet layout it becomes partition pruning, so
    at 100 TB the physical read is codes-of-probed-cells only."""
    import math

    q = [int(math.floor(float(x) * SCALE + 0.5)) for x in query_vec]
    ranked = sorted(
        (sum((q[p] - cv[p]) ** 2 for p in range(len(q))), ci)
        for ci, cv in enumerate(cents)
    )
    probe = [ci for _, ci in ranked[:n_probe]]
    if by_residual:
        m = len(codebooks)
        # tables[pi][j][c]: ADC entry for probe cell pi, subspace j
        tables = []
        for ci in probe:
            qr = [q[p] - cents[ci][p] for p in range(len(q))]
            tables.append(pq_distance_table(codebooks, qr, pre_scaled=True))
        # 1-based index of the row's cell within the probe list; rows
        # are pre-filtered to probed cells so it is never 0
        n_codes = len(codebooks[0])
        pidx = F.array_position(
            lit([int(c) for c in probe]), col("_cell").cast("bigint"))
        score = None
        for j in range(m):
            flat = _long_array_lit(
                [d for pi in range(len(probe)) for d in tables[pi][j]])
            term = F.element_at(
                flat,
                ((pidx.cast("int") - 1) * n_codes
                 + F.element_at(col(code_col), j + 1).cast("int") + 1))
            score = term if score is None else score + term
        out = (
            encoded.filter(col("_cell").isin(probe))
            .select(col(id_col).alias("neighbor_id"),
                    score.alias("adc_score"))
        )
    else:
        table = pq_distance_table(codebooks, query_vec)
        out = (
            encoded.filter(col("_cell").isin(probe))
            .select(col(id_col).alias("neighbor_id"),
                    _adc_score_expr(table, code_col).alias("adc_score"))
        )
    if exclude_self is not None:
        out = out.filter(col("neighbor_id") != exclude_self)
    return out.orderBy(col("adc_score").asc(), col("neighbor_id")).limit(k)
