"""Similarity search over embedding columns (array<float>).

No reference counterpart (BASELINE.json extension surface).

- brute-force top-k: broadcast the query vector, compute cosine as a
  JVM higher-order expression (zip_with/aggregate over doubles), top-k
  via TakeOrderedAndProject. Linear scan, perfectly partition-parallel.
- all-pairs (top-k pairs, threshold pairs, per-row top-k): one exact
  grid kernel (``_grid_pairs``) with three pair selectors — BLAS
  blocks over a broadcast index or block-pair buckets.
- LSH (random hyperplanes): sign-bit signatures from fixed
  deterministic hyperplanes; bucket join prunes the quadratic pair
  space. The scale path for 100 TB corpora: signatures are tiny, the
  bucket join shuffles ids only, and real distances are verified per
  candidate bucket.
- IVF (inverted file): coarse k-means-style assignment to the nearest
  of k sampled centroid rows; queries probe only the closest cells.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from .. import pins
from .pq import _double_array_lit

from ..functions.vectors import cosine, dot, norm
from ..scope import origin


@origin("knn_bruteforce")
def knn_bruteforce(
    df: DataFrame,
    query_vec: list[float],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: int | None = None,
    kernel: bool = False,
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    ``kernel=True`` computes the sims in one Arrow pass with the
    identical IEEE fold order (``_seq_dots``; ~100M+ row corpora —
    the expression path's interpreted HOF fold is ~2 s/1M rows); the
    top-k itself stays a TakeOrdered either way. ``exclude_self`` is
    applied BEFORE either scoring path, so a degenerate (zero-norm)
    row that is itself the excluded row can never raise in one path
    while the other skips it."""
    if exclude_self is not None:
        df = df.filter(col(id_col) != exclude_self)
    if kernel:
        import numpy as np
        from pyspark.sql.types import DoubleType, StructField, StructType

        q = [float(x) for x in query_vec]
        qn = _py_norm(q)
        qa = np.asarray([q], dtype=np.float64)
        in_schema = df.select(col(id_col).alias("neighbor_id"), col(vec_col))
        out_schema = StructType([
            in_schema.schema.fields[0],
            StructField("sim", DoubleType()),
        ])

        def batches(it):
            import pandas as pd

            for pdf in it:
                if len(pdf) == 0:
                    continue
                V = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
                rn = np.sqrt(_seq_sqnorms(V))
                if qn == 0.0 or (rn == 0.0).any():
                    # the expression path raises ANSI DIVIDE_BY_ZERO
                    # here; silent NaN sims would sort FIRST (Spark
                    # orders NaN greatest) and return a zero-norm row
                    # as the top neighbor
                    raise ArithmeticError(
                        "zero-norm vector: cosine undefined "
                        "(matches Spark ANSI DIVIDE_BY_ZERO)")
                sim = _seq_dots(V, qa)[:, 0] / (rn * qn)
                yield pd.DataFrame({
                    "neighbor_id": pdf["neighbor_id"], "sim": sim})

        out = in_schema.mapInPandas(batches, schema=out_schema)
    else:
        qv = _double_array_lit(query_vec)
        out = df.select(
            col(id_col).alias("neighbor_id"),
            cosine(col(vec_col), qv).alias("sim"),
        )
    return out.orderBy(col("sim").desc(), col("neighbor_id")).limit(k)


@origin("knn_batch")
def knn_batch(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Resolve MANY query vectors against the corpus in ONE scan:
    an Arrow kernel scores every (row, query) pair (``_seq_dots`` —
    bit-identical IEEE doubles to the cosine() expression) and keeps
    each query's LOCAL top-k per batch, so the only shuffled rows are
    ``k x n_batches x n_queries`` (id, sim) triples into a tiny final
    exact merge — never the corpus. The per-query-window formulation
    this replaces shuffled n_rows x n_queries triples.

    ``queries`` is a driver-side list of (qid, vector) — model-sized,
    like IVF centroids. Ordering: sim DESC, neighbor id ASC, exact at
    every tie (local truncation uses the same total order as the
    merge). Zero-norm vectors raise like ANSI division, and so does
    any NON-FINITE similarity (inf vector components produce NaN
    sims, which the numpy lexsort ranks LAST while knn_bruteforce's
    orderBy ranks NaN first under Spark's NaN-greatest semantics —
    rejecting them keeps the cross-operator ordering claim exact)."""
    import numpy as np

    Q = np.asarray([v for _, v in queries], dtype=np.float64)
    qn = np.asarray([_py_norm([float(x) for x in v]) for _, v in queries])
    qids = np.asarray([qid for qid, _ in queries], dtype=np.int64)
    if (qn == 0.0).any():
        raise ArithmeticError("zero-norm query vector: cosine undefined")
    if not np.isfinite(Q).all():
        raise ArithmeticError("non-finite query vector component: "
                              "cosine ordering undefined")

    _require_integral_id(df, id_col, "knn_batch")
    src = df.select(col(id_col).alias("_nid"), col(vec_col))

    def batches(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf["_nid"].to_numpy()
            rn = np.sqrt(_seq_sqnorms(V))
            if (rn == 0.0).any():
                raise ArithmeticError(
                    "zero-norm corpus vector: cosine undefined "
                    "(matches Spark ANSI DIVIDE_BY_ZERO)")
            sim = _seq_dots(V, Q) / (rn[:, None] * qn[None, :])
            if not np.isfinite(sim).all():
                raise ArithmeticError(
                    "non-finite similarity (inf vector component?): "
                    "local top-k and merge would order NaN last while "
                    "knn_bruteforce orders NaN first — rejected to "
                    "keep the documented total order exact")
            out_q, out_i, out_s = [], [], []
            for j in range(len(qids)):
                top = np.lexsort((ids, -sim[:, j]))[:k]
                out_q.append(np.full(len(top), qids[j], dtype=np.int64))
                out_i.append(ids[top])
                out_s.append(sim[top, j])
            yield pd.DataFrame({
                "qid": np.concatenate(out_q),
                "_nid": np.concatenate(out_i),
                "sim": np.concatenate(out_s),
            })

    local = src.mapInPandas(
        batches, schema="qid long, _nid long, sim double")
    # exact final merge: per qid, sort the (k x n_batches) survivors
    # by the same (sim desc, id asc) order and keep k
    agg = local.groupBy("qid").agg(
        F.slice(
            F.array_sort(F.collect_list(
                F.struct((-col("sim")).alias("_ns"), col("_nid")))),
            1, k,
        ).alias("_top"))
    return (
        agg.select("qid", F.posexplode("_top").alias("_pos", "_t"))
        .select(
            "qid",
            col("_t._nid").alias("neighbor_id"),
            (col("_pos") + 1).alias("rnk"),
            (-col("_t._ns")).alias("sim"),
        )
    )


def _require_integral_id(df: DataFrame, id_col: str, op: str) -> None:
    """The grid kernels' mapInPandas output schemas emit ids as
    ``long``; a string/decimal id would silently coerce or fail
    mid-job — rejected up front instead (r5 ADVICE, generalized from
    knn_all to every grid-block kernel)."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"{op} requires an integral id column; {id_col!r} is "
            f"{id_type.simpleString()} — add a surrogate long id (e.g. "
            "zip_with_index) or hash the key to long first"
        )


def _block_pair_src(base: DataFrame, id_col: str, n_blocks: int) -> DataFrame:
    """Explode each row to the ``n_blocks`` block-pair buckets its
    hash-block participates in: bucket (a, b), a <= b, is encoded as
    the long a*B + b and holds exactly the rows of blocks a and b.
    Every unordered row pair then lives in exactly ONE bucket, so a
    groupBy(_bucket).applyInPandas kernel sees each pair once — the
    single-job replacement for the sequential per-block broadcast
    loop (r8). Shuffle volume: B copies of the projected rows."""
    B = n_blocks
    src = base.withColumn(
        "_blk", F.pmod(F.xxhash64(col(id_col)), lit(B)).cast("int"))
    return src.withColumn(
        "_bucket",
        F.explode(F.transform(
            F.sequence(lit(0), lit(B - 1)),
            lambda o: (F.least(col("_blk"), o) * B
                       + F.greatest(col("_blk"), o)).cast("long"),
        )),
    )


def _normalize(vecs):
    """A pandas column of vectors as an L2-normalized float64 matrix;
    a zero vector stays zero."""
    import numpy as np

    M = np.vstack(vecs.to_numpy()).astype("float64")
    M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    return M


def _broadcast_block(src: DataFrame, id_col: str, vec_col: str):
    """Collect the index to the driver, L2-normalize it, and broadcast
    (ids, matrix)."""
    pdf = src.toPandas()  # bounded: one block
    return src.sparkSession.sparkContext.broadcast(
        (pdf[id_col].to_numpy(), _normalize(pdf[vec_col])))


def _top_k(k: int, partner):
    """Selector: each row's k best partners among the columns where
    ``partner(row id, column id)`` holds, by sim desc and then partner
    id asc on ties."""
    import numpy as np

    def select(S, rows, cols, allowed):
        ok = partner(rows[:, None], cols[None, :])
        if allowed is not None:
            ok &= allowed
        hits = []
        for r in range(len(rows)):
            part = np.flatnonzero(ok[r])
            hits.append(part[np.lexsort((cols[part], -S[r, part]))[:k]])
        return (np.repeat(np.arange(len(rows)), [len(h) for h in hits]),
                np.concatenate(hits))

    return select


def _at_least(threshold: float):
    """Selector: every partner with a larger id and sim >= threshold,
    in one vectorized pass over the chunk."""
    import numpy as np

    t = float(threshold)

    def select(S, rows, cols, allowed):
        ok = (S >= t) & (rows[:, None] < cols[None, :])
        if allowed is not None:
            ok &= allowed
        return np.nonzero(ok)

    return select


def _grid_pairs(df: DataFrame, id_col: str, vec_col: str, max_index_rows: int,
                select, schema: str, finish=lambda out: out) -> DataFrame:
    """The exact embedding operators' one kernel: score rows against
    their partners by cosine and keep the (row id, partner id, sim)
    triples ``select`` picks, typed by ``schema`` (long, long, double).

    ``select(S, rows, cols, allowed)`` gets one sims chunk ``S``
    (cosine of ``rows[i]`` and ``cols[j]``) and ``allowed``, the
    partner mask the plan shape imposes (``None``: every column), and
    returns the row and column indices of the pairs to keep.

    Plan: a corpus that fits ONE index block (n <= max_index_rows)
    pins one ``spread`` of the table, collects the index from it,
    broadcasts the whole normalized matrix and streams the same pin
    through an Arrow-batched mapInPandas. ``finish`` runs on its
    output before an eager pin, so the broadcast and the spread can be
    freed once the pin holds the result. A larger corpus runs a
    SINGLE job over block-pair buckets (``_block_pair_src``, r8): rows
    hash into B = ceil(n/max_index_rows) blocks, every unordered block
    pair is one bucket, and a groupBy(bucket).applyInPandas kernel
    scores the bucket. A cross bucket pairs a row only with the
    partner block's rows, since the diagonal bucket (g, g) owns the
    within-block pairs; so every pair is scored in exactly one bucket,
    and a per-row top-k there keeps every pair a global top-k needs.

    Scale story: all B(B+1)/2 buckets run CONCURRENTLY in one stage.
    Peak task memory is one bucket (<= 2*max_index_rows vectors, ~200 MB
    at 200k x 64 doubles) plus a ~32 MB sims chunk; shuffle volume is B
    copies of the (id, vector) projection. Work is the same O(N^2) dot
    products regardless of blocking; where even the grid is too slow,
    prefilter with lsh_signatures or go IVF."""
    import math

    import pandas as pd

    base = df.select(id_col, vec_col)
    n = base.count()
    if n == 0:
        return finish(base.sparkSession.createDataFrame([], schema))

    def pairs(ids, M, col_ids, cols_M, blks=None):
        # output columns by position in ``schema``
        chunk = max(1, (1 << 22) // len(col_ids))
        for s0 in range(0, len(ids), chunk):
            S = M[s0:s0 + chunk] @ cols_M.T
            rows = ids[s0:s0 + chunk]
            allowed = None if blks is None else blks[s0:s0 + chunk, None] != blks[None, :]
            r, c = select(S, rows, col_ids, allowed)
            yield pd.DataFrame({0: rows[r], 1: col_ids[c], 2: S[r, c]})

    B = math.ceil(n / max_index_rows)
    if B == 1:
        from .dedup import spread

        # one lazily checkpointed spread: the index collect fills it
        # and the pair scan reads it back instead of re-running the
        # repartition (a cache would add a table-cache job under AQE)
        src = pins.pin(spread(base), checkpoint=True)
        b = _broadcast_block(src, id_col, vec_col)

        def block(batches):
            col_ids, cols_M = b.value
            for batch in batches:
                yield from pairs(batch[id_col].to_numpy(), _normalize(batch[vec_col]),
                                 col_ids, cols_M)

        # materialize before destroying the broadcast the plan reads;
        # free both in finally so a failed checkpoint can't leak them
        try:
            return pins.pin(finish(src.mapInPandas(block, schema=schema)),
                            checkpoint=True, eager=True)
        finally:
            b.destroy()
            pins.unpin(src)

    def bucket(key, pdf):
        a, b_ = divmod(int(key[0]), B)
        ids, M = pdf[id_col].to_numpy(), _normalize(pdf[vec_col])
        blks = pdf["_blk"].to_numpy() if a != b_ else None
        return pd.concat(pairs(ids, M, ids, M, blks), ignore_index=True)

    return finish(_block_pair_src(base, id_col, B).groupBy("_bucket")
                  .applyInPandas(bucket, schema=schema))


@origin("all_pairs_topk")
def all_pairs_topk(
    df: DataFrame,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_index_rows: int = 200_000,
) -> DataFrame:
    """Top-k most-similar pairs by cosine (exact), ordered by sim desc,
    then id_a and id_b.

    Runs ``_grid_pairs``: each row keeps its top-k partners with a
    larger id, so every global top-k pair survives into the candidate
    set (no row contributes more than k of them), and a final
    TakeOrdered(k) finishes; a single-block corpus pins only those k
    rows."""
    _require_integral_id(df, id_col, "all_pairs_topk")
    return _grid_pairs(
        df, id_col, vec_col, max_index_rows, _top_k(k, operator.lt),
        "id_a long, id_b long, sim double",
        finish=lambda c: c.orderBy(col("sim").desc(), "id_a", "id_b").limit(k))


@origin("embedding_dup_pairs")
def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_index_rows: int = 200_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (id_a < id_b) with
    cosine >= threshold — the exact embedding-space dedup detector
    alongside the textual ones (exact / MinHash-LSH / SimHash / n-gram
    Jaccard in operators.dedup).

    Runs ``_grid_pairs``; the qualifying pairs come out of each sims
    chunk fully vectorized (np.nonzero, no per-row Python). At very
    high corpus sizes compose behind SRP banding (lsh_signatures) to
    prune the O(N^2) work; the verify step here is exact either way.
    """
    _require_integral_id(df, id_col, "embedding_dup_pairs")
    return _grid_pairs(df, id_col, vec_col, max_index_rows, _at_least(threshold),
                       "id_a long, id_b long, sim double")


@origin("knn_all")
def knn_all(
    df: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_index_rows: int = 200_000,
) -> DataFrame:
    """Exact top-k cosine neighbors for EVERY row (self excluded) —
    the per-vector twin of ``all_pairs_topk``'s global top-k, used by
    leave-one-out k-NN evaluation (q_knn_loo_eval).

    Runs ``_grid_pairs``: each row keeps its top-k partners other than
    itself (ties broken by neighbor id ascending), and a per-row rank
    over the bounded n_blocks*k candidates finishes — never the N^2
    pair matrix. For corpora where even the grid is too slow, evaluate
    on a deterministic sample or prefilter with lsh_signatures/ivf_build.

    ``id_col`` must be an integral type: the kernel output schema
    emits ids as ``long``, so a string/decimal id would silently
    coerce or fail mid-job — rejected up front instead (r5 ADVICE fix).
    """
    from pyspark.sql import Window

    _require_integral_id(df, id_col, "knn_all")
    cand = _grid_pairs(df, id_col, vec_col, max_index_rows, _top_k(k, operator.ne),
                       "qid long, nid long, sim double")
    w = Window.partitionBy("qid").orderBy(col("sim").desc(), col("nid"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(col("rank") <= k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (driver-side, tiny)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _py_norm(v: list[float]) -> float:
    """The norm() expression's exact IEEE sequence driver-side:
    sequential x*x left-fold, then sqrt."""
    import math

    acc = 0.0
    for x in v:
        acc = acc + x * x
    return math.sqrt(acc)


def _seq_dots(V, P):
    """``V (n x d) @ P.T (d x m)`` with functions/vectors.dot()'s
    exact IEEE op order: elementwise products, then a strictly
    sequential per-dimension accumulation (vectorized across rows and
    planes, scalar-sequential across dims) — bit-identical to the
    interpreted HOF fold, ~100x faster (the fold is CodegenFallback,
    evaluated per element with closure dispatch; the r9 k-means k=64
    demotion measured the same wall)."""
    import numpy as np

    n, d = V.shape
    acc = np.zeros((n, P.shape[0]))
    for j in range(d):
        acc += V[:, j:j + 1] * P[None, :, j]
    return acc


def _seq_sqnorms(V):
    """Row |v|^2 with the sequential-fold op order of norm()."""
    import numpy as np

    acc = np.zeros(len(V))
    for j in range(V.shape[1]):
        x = V[:, j]
        acc += x * x
    return acc


@origin("lsh_signatures")
def lsh_signatures(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    kernel: bool = False,
) -> DataFrame:
    """Random-hyperplane (SRP) LSH bucket id per row: bit i = sign of
    <v, plane_i>.

    Default path: JVM expressions, planes as literal arrays — zero
    Python, right for bench-scale tables. ``kernel=True`` computes the
    identical signatures in one Arrow batch kernel (``_seq_dots`` —
    bit-identical IEEE fold order, plus Spark's NaN>=0 convention) —
    the scale path: the expression path's n_planes interpreted HOF
    folds per row are a measured wall at 1M rows (r10 probe), the
    kernel is one vectorized pass."""
    planes = _hyperplanes(dim, n_planes, seed)
    if kernel:
        import numpy as np
        from pyspark.sql.types import LongType, StructField, StructType

        P = np.asarray(planes, dtype=np.float64)
        out_schema = StructType(
            list(df.schema.fields) + [StructField("_bucket", LongType())])

        def batches(it):
            for pdf in it:
                if len(pdf) == 0:
                    continue
                V = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
                D = _seq_dots(V, P)
                # Spark's comparison semantics make NaN >= 0 TRUE
                # (NaN sorts greatest); numpy says False — mask to
                # match so both paths agree even on inf/NaN inputs
                bits = (D >= 0) | np.isnan(D)
                sig = np.zeros(len(V), dtype=np.int64)
                for i in range(P.shape[0]):
                    sig |= bits[:, i].astype(np.int64) << i
                out = pdf.copy()
                out["_bucket"] = sig
                yield out

        return df.mapInPandas(batches, schema=out_schema)
    sig = None
    for i, p in enumerate(planes):
        pv = _double_array_lit(p)
        bit = F.when(dot(col(vec_col), pv) >= 0, F.shiftleft(lit(1).cast("long"), i)).otherwise(lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return df.withColumn("_bucket", sig)


@origin("lsh_knn")
def lsh_knn(
    df: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    kernel: bool = False,
) -> DataFrame:
    """Approximate top-k: probe only the query's SRP bucket, exact
    cosine within it. Recall grows with multi-probe (flip one bit).
    ``kernel=True`` routes signature computation through the Arrow
    kernel (bit-identical; the 1M-row scale path — r10 probe: 12.9 s
    -> 1.7 s)."""
    import numpy as np

    planes = _hyperplanes(dim, n_planes, seed)
    qsig = 0
    qarr = np.asarray(query_vec)
    for i, p in enumerate(planes):
        if float(np.dot(qarr, np.asarray(p))) >= 0:
            qsig |= 1 << i
    probe = [qsig] + [qsig ^ (1 << i) for i in range(n_planes)]  # multi-probe radius 1
    bucketed = lsh_signatures(df, dim, n_planes, vec_col, seed, kernel=kernel)
    qv = _double_array_lit(query_vec)
    return (
        bucketed.filter(col("_bucket").isin(probe))
        .select(col(id_col).alias("neighbor_id"), cosine(col(vec_col), qv).alias("sim"))
        .orderBy(col("sim").desc(), col("neighbor_id"))
        .limit(k)
    )


# past this cell count the literal-centroid argmax expression stops
# being reasonable (n_cells interpreted HOF folds per row — measured
# 124.7 s for 256 cells over 1M x 64 in the r10 probe vs ~2 s via the
# Arrow kernel, which computes the IDENTICAL IEEE doubles; even at
# n_cells=16 over the 2k-row sf0.1 table the kernel halves
# q_ann_recall_audit's warm wall, 2.7 s -> 1.3 s). Both paths are
# oracle-parity — the kernel is pinned bit-identical by pytest — so
# the threshold is purely a perf crossover, kept >0 so tiny cell
# counts avoid the Arrow batch overhead.
_IVF_LITERAL_CELLS_MAX = 8


def _ivf_assign_kernel(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str,
) -> DataFrame:
    """Large-n_cells assignment: one Arrow pass computing the same
    doubles as the literal argmax expression — ``_seq_dots`` preserves
    the HOF fold order, sims divide in the same operand order, and the
    argmax reproduces array_max's struct ordering exactly (max sim;
    NaN greatest; exact ties -> HIGHEST cell id), so the two paths are
    bit-identical (pinned by a pytest cross-check)."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray([cv for _, cv in cents], dtype=np.float64)
    cell_ids = np.asarray([ci for ci, _ in cents], dtype=np.int64)
    cnorm = np.asarray([_py_norm(cv) for _, cv in cents])
    m = len(cents)
    out_schema = StructType(
        list(df.schema.fields) + [StructField("_cell", IntegerType())])

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            rn = np.sqrt(_seq_sqnorms(V))
            denom = rn[:, None] * cnorm[None, :]
            if (denom == 0.0).any():
                # the literal path divides under ANSI semantics, which
                # raises DIVIDE_BY_ZERO on a zero-norm vector or
                # centroid — mirror it so the two paths never diverge
                raise ArithmeticError(
                    "zero-norm vector or centroid: cosine undefined "
                    "(matches Spark ANSI DIVIDE_BY_ZERO)")
            sim = _seq_dots(V, C) / denom
            # array_max semantics: np.argmax already treats NaN as the
            # maximum and returns its FIRST index, so argmax over the
            # cell-reversed array = highest cell among maxima (normal
            # ties AND NaN ties alike), matching Spark's struct order
            best = (m - 1) - np.argmax(sim[:, ::-1], axis=1)
            out = pdf.copy()
            out["_cell"] = cell_ids[best].astype("int32")
            yield out

    return df.mapInPandas(batches, schema=out_schema)


@origin("ivf_build")
def ivf_build(
    df: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """IVF coarse index: centroids = deterministic sample of rows;
    every vector assigned to its nearest centroid (one narrow pass).

    Sampling orders by md5 of the stringified id salted with the seed
    — an engine-portable deterministic permutation (identical in Spark
    and DuckDB/ANSI SQL: ``md5(CAST(id AS VARCHAR) || '<seed>')``), so
    the coarse index is reproducible by the differential oracle AND a
    different seed yields a different centroid sample.

    Assignment path splits on ``_IVF_LITERAL_CELLS_MAX``: small
    n_cells rides the JVM literal argmax expression (the oracle-parity
    path the q_knn_ivf differential pins); larger n_cells switches to
    the Arrow kernel, which computes the identical doubles and argmax
    (see ``_ivf_assign_kernel``) without the per-cell interpreted HOF
    fold (r10 probe: 124.7 s -> ~2 s at 1M x 64, 256 cells).
    """
    cents = [
        (i, [float(x) for x in r[vec_col]])
        for i, r in enumerate(
            df.select(id_col, vec_col)
            .orderBy(F.md5(F.concat(col(id_col).cast("string"), lit(str(seed)))))
            .limit(n_cells)
            .collect()
        )
    ]
    if len(cents) > _IVF_LITERAL_CELLS_MAX:
        return _ivf_assign_kernel(df, cents, vec_col), cents
    # argmax via array_max over (sim, cell) structs — linear expression
    # size (a nested when-chain would duplicate the tree exponentially).
    # The row norm is computed ONCE per row (withColumn) instead of
    # inside each cell's cosine (n_cells redundant interpreted HOF
    # folds), and each centroid norm is pre-folded driver-side with
    # the same sequential x*x left-fold + sqrt the norm() expression
    # performs — bit-identical IEEE ops, so sim values (and therefore
    # assignments and the differential oracle) are unchanged. Measured
    # at sf0.1: recall-audit chain 3.0 s -> 1.8 s (r6).
    cands = F.array(*[
        F.struct(
            (dot(col(vec_col), _double_array_lit(cv))
             / (col("_row_norm") * lit(_py_norm(cv)))).alias("sim"),
            lit(ci).alias("cell"),
        )
        for ci, cv in cents
    ])
    assigned = (
        df.withColumn("_row_norm", norm(col(vec_col)))
        .withColumn("_cell", F.array_max(cands)["cell"])
        .drop("_row_norm")
    )
    return assigned, cents


@origin("ivf_knn")
def ivf_knn(
    assigned: DataFrame,
    cents: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the n_probe nearest cells, exact cosine within them."""
    import numpy as np

    qa = np.asarray(query_vec, dtype=float)

    def cos(u, v):
        return float(np.dot(u, v) / (np.linalg.norm(u) * np.linalg.norm(v) + 1e-12))

    ranked = sorted(cents, key=lambda cv: -cos(qa, np.asarray(cv[1])))
    probe = [ci for ci, _ in ranked[:n_probe]]
    qv = _double_array_lit(query_vec)
    return (
        assigned.filter(col("_cell").isin(probe))
        .select(col(id_col).alias("neighbor_id"), cosine(col(vec_col), qv).alias("sim"))
        .orderBy(col("sim").desc(), col("neighbor_id"))
        .limit(k)
    )
