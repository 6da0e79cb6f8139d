"""Similarity search over embedding columns (array<float>).

No reference counterpart (BASELINE.json extension surface).

- brute-force top-k: broadcast the query vector, compute cosine as a
  JVM higher-order expression (zip_with/aggregate over doubles), top-k
  via TakeOrderedAndProject. Linear scan, perfectly partition-parallel.
- all-pairs: self-join a.id < b.id — quadratic verifier used for
  near-dup detection at moderate cardinality.
- LSH (random hyperplanes): sign-bit signatures from fixed
  deterministic hyperplanes; bucket join prunes the quadratic pair
  space. The scale path for 100 TB corpora: signatures are tiny, the
  bucket join shuffles ids only, and real distances are verified per
  candidate bucket.
- IVF (inverted file): coarse k-means-style assignment to the nearest
  of k sampled centroid rows; queries probe only the closest cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from .. import pins
from .pq import _double_array_lit

from ..functions.vectors import cosine, dot, norm


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


def _bucket_matrix(pdf, id_col: str, vec_col: str):
    """Shared kernel prologue: ids, block ids, and the L2-normalized
    matrix of one bucket's rows, plus the sims-chunk row count that
    caps each BLAS product at ~32 MB."""
    import numpy as np

    ids = pdf[id_col].to_numpy()
    blks = pdf["_blk"].to_numpy()
    M = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
    M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    chunk = max(1, (1 << 22) // max(len(ids), 1))
    return ids, blks, M, chunk


def _broadcast_block(src: DataFrame, bi: int, n_blocks: int, id_col: str, vec_col: str):
    """Collect ONE index block to the driver, L2-normalize it, and
    broadcast (ids, matrix). Returns None for an empty block (hash
    assignment doesn't guarantee every block is non-empty)."""
    import numpy as np

    part = src.filter(col("_blk") == bi) if n_blocks > 1 else src
    pdf = part.select(id_col, vec_col).toPandas()  # bounded: one block
    if pdf.empty:
        return None
    ids = pdf[id_col].to_numpy()
    M = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
    M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    return src.sparkSession.sparkContext.broadcast((ids, M))


def all_pairs_topk(
    df: DataFrame,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_index_rows: int = 200_000,
) -> DataFrame:
    """Top-k most-similar pairs by cosine (exact), grid-blocked.

    Plan: corpora that fit ONE index block (n <= max_index_rows)
    broadcast the whole normalized matrix and stream the table through
    an Arrow-batched mapInPandas doing one BLAS block-multiply per
    batch — zero shuffle. Larger corpora run a SINGLE job over
    block-pair buckets (r8, replacing the r7 sequential per-block
    driver loop): rows hash into B = ceil(n/max_index_rows) blocks;
    every unordered block pair (a, b) is one bucket; each row is
    exploded to the B buckets its block participates in; a
    groupBy(bucket).applyInPandas kernel evaluates the bucket's pairs
    (cross-block in mixed buckets, within-block in diagonal ones) with
    chunked BLAS multiplies. Each row emits its bucket-local top-k
    among partners with larger id, so every global top-k pair survives
    into the candidate set (a pair lives in exactly ONE bucket, and no
    row contributes more than k global-top-k pairs); a final
    TakeOrdered(k) finishes.

    Scale story: all B(B+1)/2 buckets run CONCURRENTLY in one stage —
    no per-block job-launch serialization, no driver-side candidate
    collection. Peak task memory is one bucket (<= 2*max_index_rows
    vectors, ~200 MB at 200k x 64 doubles) plus a ~32 MB sims chunk;
    shuffle volume is B copies of the (id, vector) projection —
    replacing B full-table scans + B driver broadcasts. Work is the
    same O(N^2) dot products regardless of blocking. For corpora where
    even the grid is too slow, prefilter with lsh_signatures or go
    IVF.
    """
    import math

    import numpy as np

    spark = df.sparkSession
    _require_integral_id(df, id_col, "all_pairs_topk")
    base = df.select(id_col, vec_col)
    n = base.count()
    n_blocks = max(1, math.ceil(n / max_index_rows))
    kk = k

    if n_blocks == 1:
        from .dedup import spread

        src = spread(base)
        b = _broadcast_block(src, 0, 1, id_col, vec_col)
        if b is None:
            return spark.createDataFrame(
                [], schema="id_a long, id_b long, sim double")

        def block(batches, _b=b):
            import pandas as pd

            ids_blk, Mb = _b.value
            for batch in batches:
                A = np.vstack(batch[vec_col].to_numpy()).astype("float64")
                A /= np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)
                sims = A @ Mb.T  # (batch, block)
                out_a, out_b, out_s = [], [], []
                for r, aid in enumerate(batch[id_col].to_numpy()):
                    mask = ids_blk > aid
                    if not mask.any():
                        continue
                    s = sims[r][mask]
                    partners = ids_blk[mask]
                    top = np.argsort(-s)[:kk]
                    out_a.extend([aid] * len(top))
                    out_b.extend(partners[top])
                    out_s.extend(s[top])
                yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "sim": out_s})

        try:
            best = (
                src.mapInPandas(block, schema="id_a long, id_b long, sim double")
                .orderBy(col("sim").desc(), "id_a", "id_b")
                .limit(k)
                .collect()
            )
        finally:
            b.destroy()
        cand = spark.createDataFrame(
            [(r.id_a, r.id_b, r.sim) for r in best] or [(None, None, None)],
            schema="id_a long, id_b long, sim double")
        if not best:
            cand = cand.filter(col("id_a").isNotNull())
        return cand.orderBy(col("sim").desc(), "id_a", "id_b").limit(k)

    # multi-block: one job over block-pair buckets
    B = n_blocks
    src = _block_pair_src(base, id_col, B)

    def bucket_kernel(key, pdf):
        import pandas as pd

        a, b_ = divmod(int(key[0]), B)
        ids, blks, M, chunk = _bucket_matrix(pdf, id_col, vec_col)
        m = len(ids)
        out_a: list = []
        out_b: list = []
        out_s: list = []
        for s0 in range(0, m, chunk):
            S = M[s0:s0 + chunk] @ M.T
            for r in range(S.shape[0]):
                i = s0 + r
                mask = ids > ids[i]
                if a != b_:
                    # cross-block pairs only: the diagonal bucket
                    # (g, g) owns this row's within-block pairs
                    mask &= blks != blks[i]
                part = np.nonzero(mask)[0]
                if not len(part):
                    continue
                s = S[r][part]
                if len(s) > kk:
                    sel = np.argpartition(-s, kk - 1)[:kk]
                else:
                    sel = np.arange(len(s))
                out_a.extend([ids[i]] * len(sel))
                out_b.extend(ids[part[sel]])
                out_s.extend(s[sel])
        return pd.DataFrame({
            "id_a": np.asarray(out_a, dtype=np.int64),
            "id_b": np.asarray(out_b, dtype=np.int64),
            "sim": np.asarray(out_s, dtype=np.float64),
        })

    cand = src.groupBy("_bucket").applyInPandas(
        bucket_kernel, schema="id_a long, id_b long, sim double")
    return cand.orderBy(col("sim").desc(), "id_a", "id_b").limit(k)


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

    Same plan family as ``all_pairs_topk``: a single-block corpus
    broadcasts the whole normalized index and streams the table
    through one BLAS mapInPandas (zero shuffle); a larger corpus runs
    ONE job over block-pair buckets (r8, replacing the sequential
    per-block loop) — the kernel's qualifying pairs come out fully
    vectorized (np.nonzero over each sims chunk, no per-row Python).
    Peak task memory = one bucket + a 32 MB sims chunk. At very high
    corpus sizes compose behind SRP banding (lsh_signatures) to prune
    the O(N^2) work; the verify step here is exact either way.
    """
    import math

    import numpy as np

    spark = df.sparkSession
    _require_integral_id(df, id_col, "embedding_dup_pairs")
    base = df.select(id_col, vec_col)
    n = base.count()
    n_blocks = max(1, math.ceil(n / max_index_rows))

    if n_blocks == 1:
        from .dedup import spread

        src = spread(base)
        b = _broadcast_block(src, 0, 1, id_col, vec_col)
        if b is None:
            return spark.createDataFrame(
                [], schema="id_a long, id_b long, sim double")

        def block(batches, _b=b, _t=threshold):
            import pandas as pd

            ids_blk, Mb = _b.value
            for batch in batches:
                A = np.vstack(batch[vec_col].to_numpy()).astype("float64")
                A /= np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)
                sims = A @ Mb.T
                rows_a = batch[id_col].to_numpy()
                r_idx, c_idx = np.nonzero((sims >= _t) & (rows_a[:, None] < ids_blk[None, :]))
                yield pd.DataFrame(
                    {"id_a": rows_a[r_idx], "id_b": ids_blk[c_idx], "sim": sims[r_idx, c_idx]}
                )

        # materialize before destroying the broadcast the plan reads;
        # destroy in finally so a failed checkpoint can't leak it
        try:
            out = pins.pin(
                src.mapInPandas(block, schema="id_a long, id_b long, sim double"),
                checkpoint=True, eager=True)
        finally:
            b.destroy()
        return out

    B = n_blocks
    src = _block_pair_src(base, id_col, B)

    _t = float(threshold)

    def bucket_kernel(key, pdf):
        import pandas as pd

        a, b_ = divmod(int(key[0]), B)
        ids, blks, M, chunk = _bucket_matrix(pdf, id_col, vec_col)
        m = len(ids)
        frames = []
        for s0 in range(0, m, chunk):
            S = M[s0:s0 + chunk] @ M.T
            ids_rows = ids[s0:s0 + chunk]
            cond = (S >= _t) & (ids_rows[:, None] < ids[None, :])
            if a != b_:
                # cross-block pairs only: bucket (g, g) owns
                # within-block pairs
                cond &= blks[s0:s0 + chunk][:, None] != blks[None, :]
            r_idx, c_idx = np.nonzero(cond)
            frames.append(pd.DataFrame({
                "id_a": ids_rows[r_idx], "id_b": ids[c_idx],
                "sim": S[r_idx, c_idx]}))
        if not frames:
            return pd.DataFrame({"id_a": np.empty(0, np.int64),
                                 "id_b": np.empty(0, np.int64),
                                 "sim": np.empty(0, np.float64)})
        return pd.concat(frames, ignore_index=True)

    return src.groupBy("_bucket").applyInPandas(
        bucket_kernel, schema="id_a long, id_b long, sim double")


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

    Same plan family as ``all_pairs_topk``: a single-block corpus
    broadcasts the whole normalized index and streams the table
    through one BLAS mapInPandas; a larger corpus runs ONE job over
    block-pair buckets (r8, replacing the sequential per-block loop).
    In bucket (a, b) every row's candidates are the partner block's
    rows (the diagonal bucket covers within-block partners, self
    excluded); each row emits its bucket-local top-k (ties broken by
    neighbor id ascending) and a per-row rank over the bounded
    n_blocks*k candidates finishes — never the N^2 pair matrix. For
    corpora where even the grid is too slow, evaluate on a
    deterministic sample or prefilter with lsh_signatures/ivf_build.

    ``id_col`` must be an integral type: the kernel output schema
    emits ids as ``long`` (same contract as ``all_pairs_topk``), so a
    string/decimal id would silently coerce or fail mid-job — rejected
    up front instead (r5 ADVICE fix).
    """
    import math

    import numpy as np

    from pyspark.sql import Window

    spark = df.sparkSession
    _require_integral_id(df, id_col, "knn_all")
    base = df.select(id_col, vec_col)
    n = base.count()
    n_blocks = max(1, math.ceil(n / max_index_rows))
    w = Window.partitionBy("qid").orderBy(col("sim").desc(), col("nid"))

    if n_blocks == 1:
        from .dedup import spread

        src = spread(base)
        b = _broadcast_block(src, 0, 1, id_col, vec_col)
        if b is None:
            return spark.createDataFrame(
                [], schema="qid long, nid long, sim double, rank int")

        def block(batches, _b=b, _k=k):
            import pandas as pd

            ids_blk, Mb = _b.value
            for batch in batches:
                A = np.vstack(batch[vec_col].to_numpy()).astype("float64")
                A /= np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)
                sims = A @ Mb.T
                out_a, out_b, out_s = [], [], []
                for r, aid in enumerate(batch[id_col].to_numpy()):
                    mask = ids_blk != aid
                    if not mask.any():
                        continue
                    s = sims[r][mask]
                    partners = ids_blk[mask]
                    # lexsort: sim desc, then neighbor id asc on ties
                    order = np.lexsort((partners, -s))[:_k]
                    out_a.extend([aid] * len(order))
                    out_b.extend(partners[order])
                    out_s.extend(s[order])
                yield pd.DataFrame({"qid": out_a, "nid": out_b, "sim": out_s})

        try:
            cand = pins.pin(
                src.mapInPandas(block, schema="qid long, nid long, sim double"),
                checkpoint=True, eager=True)
        finally:
            b.destroy()
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(col("rank") <= k)
        )

    B = n_blocks
    src = _block_pair_src(base, id_col, B)

    _k = int(k)

    def bucket_kernel(key, pdf):
        import pandas as pd

        a, b_ = divmod(int(key[0]), B)
        ids, blks, M, chunk = _bucket_matrix(pdf, id_col, vec_col)
        m = len(ids)
        out_a: list = []
        out_b: list = []
        out_s: list = []
        for s0 in range(0, m, chunk):
            S = M[s0:s0 + chunk] @ M.T
            for r in range(S.shape[0]):
                i = s0 + r
                if a != b_:
                    mask = blks != blks[i]  # partner block only
                else:
                    mask = ids != ids[i]  # within-block, self excluded
                part = np.nonzero(mask)[0]
                if not len(part):
                    continue
                s = S[r][part]
                partners = ids[part]
                order = np.lexsort((partners, -s))[:_k]
                out_a.extend([ids[i]] * len(order))
                out_b.extend(partners[order])
                out_s.extend(s[order])
        return pd.DataFrame({
            "qid": np.asarray(out_a, dtype=np.int64),
            "nid": np.asarray(out_b, dtype=np.int64),
            "sim": np.asarray(out_s, dtype=np.float64),
        })

    cand = src.groupBy("_bucket").applyInPandas(
        bucket_kernel, schema="qid long, nid long, sim double")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= k)
    )


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
