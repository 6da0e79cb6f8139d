"""Deduplication operators for large-scale text/training-data pipelines.

No reference counterpart (BASELINE.json extension surface). All
variants are pure DataFrame plans designed for 100 TB:

- exact: hash-groupBy on a normalized fingerprint — one shuffle of
  (fingerprint, doc_id), never the document bodies.
- minhash + LSH: shingle -> k minhashes (xxhash64 with k seeds, JVM
  expressions) -> b bands -> band-hash bucket join. Candidate pairs are
  verified with true shingle Jaccard. Only signatures (k*8 bytes/doc)
  shuffle; band join explodes b rows/doc.
- simhash: 64-bit signature from per-shingle xxhash64 bit-votes;
  near-dup = identical signature (or bucketed hamming verification).
- n-gram jaccard: exact pairwise Jaccard via shingle self-join —
  the quadratic fallback, bounded by shingle selectivity.
- embedding cosine: see operators/similarity.py (all_pairs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from .. import pins
from ..scope import origin

# Candidate-id sets up to this size broadcast in the LSH verification
# prune (long ids: 2M ~ 16 MB serialized, inside the session's 32 MB
# autoBroadcastJoinThreshold); larger sets fall back to a shuffled
# semi-join.
_BROADCAST_ID_LIMIT = 2_000_000
# Corpora at or below this many docs skip the verification prune: the
# full-table join is cheaper than the prune's extra join/broadcast
# until the shingle table dwarfs the candidate set.
_PRUNE_MIN_DOCS = 100_000
# Default LSH bucket-size cap: buckets at or below this size get the
# exact all-pairs self-join; hotter buckets (boilerplate mass) degrade
# to star pairing. 1024 bounds one bucket's join output to ~524k pairs
# — one task's worth of work regardless of corpus skew.
_DEFAULT_MAX_BUCKET = 1024


def _capped_bucket_pairs(buckets: DataFrame, key: str, cap: int,
                         carry: list[str] | None = None) -> tuple[DataFrame, int]:
    """Candidate pairs from an LSH bucket table with a hot-bucket cap,
    and the table's row count.

    ``buckets`` has one row per (doc ``_id``, bucket ``key``); buckets
    with <= ``cap`` members produce ALL intra-bucket pairs (the exact
    LSH candidate set); buckets above the cap produce STAR pairs only
    (every member paired with the bucket's min ``_id``) — O(n) rows
    per hot bucket instead of O(n^2), so a corpus with 100k identical
    boilerplate docs costs one linear task, not one quadratic one.

    Star pairing preserves cluster CONNECTIVITY (every hot-bucket
    member reaches the representative, so connected-component dedup
    recovers the full group) but not pair COMPLETENESS: a pair of
    non-representative members that shares only hot buckets is not
    emitted directly, and if the representative fails downstream
    verification against a member, that member's true pairs inside the
    hot bucket are lost. That is the documented recall trade for
    bounded per-task time; pass ``max_bucket_size=None`` at the caller
    for the exact quadratic behaviour.

    ``carry`` columns (e.g. the simhash signature) are propagated to
    ``<name>_a`` / ``<name>_b`` on each pair; for star pairs the _a
    side carries the representative's value via ``min_by``.
    """
    carry = carry or []
    aggs = [F.count("*").alias("_bsz"), F.min("_id").alias("_bmin")]
    aggs += [F.min_by(c, col("_id")).alias(f"_bmin_{c}") for c in carry]

    def plain_pairs(src: DataFrame) -> DataFrame:
        a, b = src.alias("a"), src.alias("b")
        pair_cols = [col("a._id").alias("id_a"), col("b._id").alias("id_b")]
        pair_cols += [col(f"a.{c}").alias(f"{c}_a") for c in carry]
        pair_cols += [col(f"b.{c}").alias(f"{c}_b") for c in carry]
        return a.join(
            b, (col(f"a.{key}") == col(f"b.{key}")) & (col("a._id") < col("b._id"))
        ).select(*pair_cols)

    # Decision job (the candidate-prune pattern): cache the thin bucket
    # table and answer every question the callers ask of it with ONE
    # aggregate over the bucket sizes: is any bucket over the cap, how
    # large is the largest, and how many rows are there (minhash's
    # verification prune reads its doc count from them). When no
    # bucket is over the cap — the overwhelmingly common case — emit
    # the EXACT uncapped self-join plan over the CACHED bucket table. A
    # probe-before-cache variant (narrow count over the uncached
    # buckets, nothing materialized on the clean path) was tried in r12
    # and REVERTED: it re-derives the bucket/signature subtree for the
    # probe AND both self-join sides, and same-window alternating reps
    # at sf0.1 measured it ~40-70 % SLOWER warm (minhash 1.9 -> 3.3 s,
    # simhash 1.8 -> 2.5 s, two alternating rounds) — the cache
    # materialization it avoided is exactly what the self-join and
    # later reps reuse. The cache holds (id, bucket) pairs only — far
    # smaller than the shingle-array cache the minhash caller pins.
    buckets = pins.pin(buckets)
    stats = buckets.groupBy(key).agg(F.count("*").alias("_bsz")).agg(
        F.coalesce(F.sum("_bsz"), lit(0)).alias("rows"),
        F.count(F.when(col("_bsz") > cap, 1)).alias("n_hot"),
        F.max("_bsz").alias("mx"),
    ).first()
    if stats["n_hot"] == 0:
        return plain_pairs(buckets).distinct(), stats["rows"]
    # The star-degradation path changes the OUTPUT CONTRACT (pair
    # completeness, see docstring) — surface a runtime signal so
    # callers consuming pairs directly can tell it activated.
    import warnings

    warnings.warn(
        f"LSH hot-bucket cap engaged on key '{key}': {stats['n_hot']} "
        f"bucket(s) above max_bucket_size={cap} (largest: "
        f"{stats['mx']} members) degrade to star pairing — pair "
        "recall inside those buckets is representative-only (cluster "
        "connectivity preserved). Pass max_bucket_size=None for the "
        "exact quadratic behaviour.",
        RuntimeWarning,
        stacklevel=3,
    )
    hot = pins.pin(buckets.groupBy(key).agg(*aggs).filter(col("_bsz") > cap))
    small = buckets.join(hot.select(key), key, "left_anti")
    pairs = plain_pairs(small)
    star_cols = [col("_bmin").alias("id_a"), col("_id").alias("id_b")]
    star_cols += [col(f"_bmin_{c}").alias(f"{c}_a") for c in carry]
    star_cols += [col(c).alias(f"{c}_b") for c in carry]
    star = (
        # _bmin is the bucket min, so id_a < id_b holds by construction
        buckets.join(hot, key)
        .filter(col("_id") != col("_bmin"))
        .select(*star_cols)
    )
    return pairs.unionByName(star).distinct(), stats["rows"]


def normalize_text(c: Column) -> Column:
    """Lowercase, collapse whitespace — the canonical form for exact /
    fingerprint dedup."""
    return F.regexp_replace(F.lower(F.trim(c)), r"[ \t\n\x0B\f\r]+", " ")


def fingerprint_md5(c: Column) -> Column:
    """Deterministic content fingerprint (md5 of normalized text)."""
    return F.md5(normalize_text(c))


@origin("exact_dedup")
def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per distinct normalized text.
    Returns (keep_id, dup_count). Shuffles only (fingerprint, id)."""
    return (
        df.select(fingerprint_md5(col(text_col)).alias("_fp"), col(id_col))
        .groupBy("_fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
        .drop("_fp")
    )


def shingles(c: Column, n: int = 4) -> Column:
    """Distinct n-word shingles of a text column (JVM higher-order
    functions; no Python in the loop).

    Built by zip_with-ing the token array against itself shifted by
    1..n-1 — O(n * len) per document, vs the O(len^2) of slicing a
    window per index. Partial shingles created at the tail by
    zip_with's null-extension are cut by the final slice (when the doc
    has < n tokens, the single partial shingle is kept, i.e. the whole
    short document is one shingle)."""
    toks = F.split(F.trim(c), r"[ \t\n\x0B\f\r]+")
    acc = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    acc = F.slice(acc, 1, F.greatest(F.size(toks) - (n - 1), lit(1)))
    return F.array_distinct(acc)


@origin("spread")
def spread(df: DataFrame) -> DataFrame:
    """Repartition a compact scan to full parallelism before fan-out
    work (shingle explodes, per-row signature builds). A small corpus
    arrives as one scan task (locally: one parquet file), and the
    heavy per-row expansion after it would then run on one core while
    the rest idle; one cheap shuffle of the thin input buys the whole
    cluster for the expansion. No-op when the scan is already
    parallel (the normal case at 100 TB)."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


@origin("shingle_table")
def shingle_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 4) -> DataFrame:
    # deliberately NOT spread(): the shingle family's heavy work sits
    # AFTER its first shuffle (signature/count aggregates, bucket
    # joins), which already parallelizes; a pre-explode repartition
    # would shuffle the full text payload and break exchange reuse
    # (measured: minhash 5.5 s -> 8.0 s with spread). spread() pays
    # off when the fan-out itself is the dominant per-row work
    # (q_bootstrap_ci 12.6 -> 2.3 s, q_pca_power 6.0 -> 3.9 s).
    return df.select(col(id_col).alias("_id"), F.explode(shingles(col(text_col), n)).alias("_sh"))


@origin("ngram_jaccard_pairs")
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (a < b, jaccard >= threshold).

    Plan: explode distinct shingles, self-join on shingle (common
    counts), join per-doc shingle counts, filter. The self-join blows
    up quadratically on hot shingles; ``max_shingle_df`` bounds it by
    dropping shingles that occur in more than that many documents
    (from BOTH the join and the per-doc counts, so the result is the
    exact Jaccard over the reduced shingle sets — stopword-shingle
    removal, the standard bound for this operator at corpus scale).
    The DEFAULT is bounded (1000 docs/shingle: a safety valve far above
    natural 4-gram document frequencies, so small-corpus results are
    usually identical to exact) — the obvious API path must not hide an
    unbounded self-join. Pass ``max_shingle_df=None`` explicitly for
    exact-over-all-shingles semantics, and at 100 TB either keep a
    cutoff or compose behind LSH prefiltering (minhash_lsh_pairs).
    """
    sh = shingle_table(df, text_col, id_col, n)
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("_sh")
            .agg(F.count("*").alias("_df"))
            .filter(col("_df") > max_shingle_df)
            .select("_sh")
        )
        # hot set is small by construction — broadcast anti-join
        sh = sh.join(F.broadcast(hot), "_sh", "left_anti")
    # Fill the cache with ONE serial job before the consumers fan out:
    # without it, the per-doc counts aggregate and both self-join sides
    # race to materialize the cold cache and BlockManager write locks
    # serialize the duplicate partition computes (r12 one-shot A/B,
    # clearCache between reps, 3 alternating rounds: racing cache
    # 3.4-3.8 s, prefilled 3.3 s — and the same fix pattern as the
    # minhash/simhash decision probes, which fill their caches as a
    # side effect).
    sh = pins.pin(sh, eager=True)
    counts = sh.groupBy("_id").agg(F.count("*").alias("_n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (col("a._sh") == col("b._sh")) & (col("a._id") < col("b._id")))
        .groupBy(col("a._id").alias("id_a"), col("b._id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    ca = counts.select(col("_id").alias("id_a"), col("_n").alias("n_a"))
    cb = counts.select(col("_id").alias("id_b"), col("_n").alias("n_b"))
    return (
        common.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn("jaccard", col("common") / (col("n_a") + col("n_b") - col("common")))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


@origin("containment_pairs")
def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by shingle containment
    |A ∩ B| / |A| >= threshold — catches quote/excerpt duplication
    (small doc A contained in big doc B) that symmetric Jaccard misses
    (the union denominator drowns the small side).

    Output: (id_small, id_big, containment) where ``id_small`` is the
    CONTAINED document (its shingle set is the denominator); both
    orientations are evaluated, so a pair can appear once per
    direction. Same bounded self-join plan as ``ngram_jaccard_pairs``
    (hot-shingle cutoff applies to BOTH the join and the denominators,
    so the score is exact over the reduced shingle sets).
    """
    sh = shingle_table(df, text_col, id_col, n)
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("_sh")
            .agg(F.count("*").alias("_df"))
            .filter(col("_df") > max_shingle_df)
            .select("_sh")
        )
        sh = sh.join(F.broadcast(hot), "_sh", "left_anti")
    # serial cache fill before the consumer fan-out — see
    # ngram_jaccard_pairs for the measured race it avoids
    sh = pins.pin(sh, eager=True)
    counts = sh.groupBy("_id").agg(F.count("*").alias("_n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (col("a._sh") == col("b._sh")) & (col("a._id") != col("b._id")))
        .groupBy(col("a._id").alias("id_small"), col("b._id").alias("id_big"))
        .agg(F.count("*").alias("common"))
    )
    ca = counts.select(col("_id").alias("id_small"), col("_n").alias("n_small"))
    return (
        common.join(ca, "id_small")
        .withColumn("containment", col("common") / col("n_small"))
        .filter(col("containment") >= threshold)
        .select("id_small", "id_big", "containment")
    )


@origin("minhash_signatures")
def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_perm: int = 32, shingle_n: int = 4,
) -> DataFrame:
    """k minhashes per doc: min over shingles of xxhash64(shingle, seed_i).

    One narrow pass: shingling + k hash-mins fold into a single
    aggregate over the exploded shingles (partial min combine map-side).
    """
    # hash the shingle STRING once; derive the k permutations by
    # re-hashing the resulting 8-byte long — at k=128 this is ~k bytes
    # hashed per shingle instead of k full string passes
    sh = shingle_table(df, text_col, id_col, shingle_n).withColumn("_h0", F.xxhash64(col("_sh")))
    mins = [F.min(F.xxhash64(col("_h0"), lit(i))).alias(f"mh_{i}") for i in range(num_perm)]
    return sh.groupBy(col("_id").alias(id_col)).agg(*mins)


@origin("minhash_lsh_pairs")
def minhash_lsh_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_perm: int = 32, bands: int = 16, shingle_n: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = _DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with true Jaccard.

    b bands of r=num_perm/b rows; docs sharing any band bucket are
    candidates; candidates verified by exact shingle Jaccard.

    Shuffle contract (r9, measured at 1M docs): the corpus-
    proportional shuffles are the signature aggregate (one
    num_perm-long row per doc after map-side combine) and the bucket
    self-join on (band, band_hash, id); the verification stage is
    pruned to candidate docs first (broadcast semi-join when the
    candidate-id set is provably small, skipped entirely below
    _PRUNE_MIN_DOCS where the prune overhead exceeds the win), so its
    volume scales with the near-dup mass, not the corpus — 2229 MB ->
    1336 MB total at 1M docs. Document bodies never shuffle.

    Skew contract (r11): the band-bucket self-join is quadratic PER
    BUCKET, so a boilerplate corpus (100k identical docs -> one
    bucket) would put O(n^2) work in one task. ``max_bucket_size``
    (default 1024) caps that: hot buckets degrade to star pairing —
    every member is paired with the bucket's min-id representative,
    O(n) rows — which keeps connected-component dedup exact for the
    hot group while bounding per-task time; see _capped_bucket_pairs
    for the precise recall trade. ``None`` restores the unbounded
    exact candidate set.
    """
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands
    # one shingle-ARRAY pass feeds both the signature aggregate and
    # the (pruned) verification explode
    base = pins.pin(
        df.select(col(id_col).alias("_id"),
                  shingles(col(text_col), shingle_n).alias("_arr"))
        .filter(col("_arr").isNotNull())
    )
    sh = base.select("_id", F.explode(col("_arr")).alias("_sh"))
    # single string hash, then k cheap long re-hashes (see
    # minhash_signatures). Explode + groupBy(min): the partial
    # aggregate combines map-side, so the exchange carries one
    # num_perm-long row per doc per input partition — ~0.5 KB/doc at
    # k=64. A per-row formulation (array_min over transform, probed in
    # r9) removes even that exchange but falls out of whole-stage
    # codegen at k=64 (5x wall at sf0.1) with no wall win at 1M docs,
    # so the aggregate stays.
    mins = [F.min(F.xxhash64(col("_h0"), lit(i))).alias(f"mh_{i}") for i in range(num_perm)]
    sig = sh.withColumn("_h0", F.xxhash64(col("_sh"))).groupBy("_id").agg(*mins)
    band_cols = [
        F.struct(lit(bi).alias("band"), F.xxhash64(*[col(f"mh_{bi * r + j}") for j in range(r)]).alias("bh"))
        for bi in range(bands)
    ]
    buckets = sig.select("_id", F.explode(F.array(*band_cols)).alias("bk"))
    if max_bucket_size is not None:
        cands, n_rows = _capped_bucket_pairs(buckets, "bk", max_bucket_size)
        n_docs = n_rows // bands  # one bucket row per (doc, band)
    else:
        a, b = buckets.alias("a"), buckets.alias("b")
        cands = (
            a.join(b, (col("a.bk") == col("b.bk")) & (col("a._id") < col("b._id")))
            .select(col("a._id").alias("id_a"), col("b._id").alias("id_b"))
            .distinct()
        )
        n_docs = base.count()  # one lightweight job; fills the base cache
    # Prune the shingle table to candidate docs BEFORE the verification
    # joins: LSH exists because candidates are rare, so the exact-Jaccard
    # stage should shuffle candidates' shingles, not the corpus's (the
    # r9 1M-doc probe measured 2.2 GB of verification shuffle without
    # this — ~10x the candidate shingle volume). The doc count comes
    # from the bucket decision job above, which also filled the base
    # cache. One more decision job counts the candidate pairs (and fills
    # the cands cache the main job reuses); a provably-small id set
    # broadcasts (longs only: 2M ids ~ 16 MB, inside the 32 MB session
    # threshold) so the corpus-sized side never shuffles at all, and a
    # pathological candidate set falls back to a shuffled semi-join.
    # Small corpora skip pruning entirely — full-table verification is
    # cheaper than the prune's extra join/broadcast at bench scale
    # (measured: +1.7 s at 5k docs, -1.5 GB shuffle at 1M docs).
    if n_docs <= _PRUNE_MIN_DOCS:
        verif = base
    else:
        cands = pins.pin(cands)
        n_pairs_probe = cands.limit(_BROADCAST_ID_LIMIT // 2 + 1).count()
        cand_ids = (
            cands.select(col("id_a").alias("_id"))
            .unionByName(cands.select(col("id_b").alias("_id")))
            .distinct()
        )
        if 2 * n_pairs_probe <= _BROADCAST_ID_LIMIT:
            verif = base.join(F.broadcast(cand_ids), "_id", "left_semi")
        else:
            verif = base.join(cand_ids, "_id", "left_semi")
    shv = verif.select("_id", F.explode(col("_arr")).alias("_sh"))
    # shingles() is array_distinct, so the array size equals the
    # exploded per-doc row count — no counting aggregate needed
    counts = verif.select("_id", F.size(col("_arr")).alias("_n"))
    common = (
        cands.join(shv.alias("sa"), cands.id_a == col("sa._id"))
        .join(shv.alias("sb"), (cands.id_b == col("sb._id")) & (col("sa._sh") == col("sb._sh")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    ca = counts.select(col("_id").alias("id_a"), col("_n").alias("n_a"))
    cb = counts.select(col("_id").alias("id_b"), col("_n").alias("n_b"))
    return (
        common.join(ca, "id_a").join(cb, "id_b")
        .withColumn("jaccard", col("common") / (col("n_a") + col("n_b") - col("common")))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def portable_hash60(c: Column) -> Column:
    """60-bit shingle hash reproducible in any ANSI engine: the first
    15 hex chars of md5, parsed as an integer. Slower than xxhash64
    (md5 + string slice) but lets a differential oracle recompute the
    identical simhash; keep xxhash64 for production-scale runs."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


_MASK60 = (1 << 60) - 1


def mix60_salt(salt: int) -> int:
    """The Python-precomputed 60-bit xor constant for permutation
    ``salt`` (odd multiples of the splitmix64 increment, masked)."""
    return (0x9E3779B97F4A7C15 * (2 * salt + 1)) & _MASK60


def portable_mix60(h: Column, salt: int) -> Column:
    """Derive the ``salt``-th permutation hash from ONE existing
    60-bit hash with pure positive-integer xor/shift steps — the
    derive-k-from-1 pattern (minhash_signatures) made engine-portable.

    No multiplication (BIGINT overflow semantics differ between
    engines; Spark ANSI would raise) and every intermediate stays in
    [0, 2^60): the left shift masks its operand to 39 bits first, so
    ``(x & (2^39-1)) << 21 < 2^60`` in any engine, and right shifts
    of non-negative values are logical everywhere. DuckDB twin:
    ``queries.wave13._mix60_sql``.
    """
    x = h.bitwiseXOR(lit(mix60_salt(salt)))
    x = x.bitwiseXOR(F.shiftrightunsigned(x, 29))
    x = x.bitwiseXOR(F.shiftleft(x.bitwiseAND(lit((1 << 39) - 1)), 21))
    return x.bitwiseXOR(F.shiftrightunsigned(x, 17))


@origin("simhash")
def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            shingle_n: int = 2, portable: bool = False) -> DataFrame:
    """64-bit SimHash per document.

    Per shingle: h = xxhash64(shingle) (or the md5-derived 60-bit
    ``portable_hash60`` when ``portable=True`` — bits 60..63 are then
    zero for every doc, which cancels in hamming distance); bit votes
    +-1 summed per position across shingles; signature bit i = sign of
    vote i. All JVM bit arithmetic over an exploded (id, shingle)
    table; one aggregate, 64 sums wide.
    """
    hash_expr = portable_hash60(col("_sh")) if portable else F.xxhash64(col("_sh"))
    # guard BEFORE the explode: the packed 16-bit vote lanes are only
    # safe while n_shingles * (2^48 + 2^32 + 2^16 + 1) fits a signed
    # long, i.e. n < 2^15 — past that the ANSI sum overflows (loud but
    # cryptic), and with ANSI off a 16-bit counter would carry into
    # the adjacent lane SILENTLY at n >= 2^16. The shingle array is in
    # hand pre-explode, so the check is one per-row expression.
    arr = shingles(col(text_col), shingle_n)
    guarded = F.when(F.size(arr) < lit(1 << 15), arr).otherwise(
        F.raise_error(F.concat(
            lit("simhash: document "), col(id_col).cast("string"),
            lit(" has >= 32768 shingles; the packed 16-bit vote lanes "
                "would overflow — split the document or reduce "
                "shingle count"),
        )).cast("array<string>")
    )
    sh = df.select(
        col(id_col).alias("_id"), F.explode(guarded).alias("_sh")
    ).withColumn("_h", hash_expr)
    # branch-free votes, 4 counters packed per aggregate: lane j sums
    # bits {j, j+16, j+32, j+48} of the hash into 16-bit segments of one
    # long (no cross-lane carry while a doc has < 65536 shingles) —
    # 16 sum columns instead of 64.
    one = lit(1).cast("long")

    def lane(j: int):
        h = col("_h")
        packed = None
        for seg in range(4):
            bit = F.shiftrightunsigned(h, j + 16 * seg).bitwiseAND(one)
            term = F.shiftleft(bit, 16 * seg)
            packed = term if packed is None else packed + term
        return F.sum(packed).alias(f"l_{j}")

    agg = sh.groupBy(col("_id").alias(id_col)).agg(F.count("*").alias("_n"), *[lane(j) for j in range(16)])
    sig = None
    for i in range(64):
        j, seg = i % 16, i // 16
        cnt = F.shiftrightunsigned(col(f"l_{j}"), 16 * seg).bitwiseAND(lit(0xFFFF))
        bit = F.when(cnt * 2 > col("_n"), F.shiftleft(one, i)).otherwise(lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return agg.select(id_col, sig.alias("simhash"))


@origin("simhash_pairs")
def simhash_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3, shingle_n: int = 2,
                  portable: bool = False,
                  max_bucket_size: int | None = _DEFAULT_MAX_BUCKET) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Block on ``max_hamming + 1`` signature chunks — the pigeonhole
    guarantee: a pair within hamming h differs in at most h chunks, so
    it shares at least one exact chunk; the blocking is LOSSLESS for
    chunk buckets at or below ``max_bucket_size`` (the output is
    exactly all pairs within max_hamming). Candidates verified with
    bit_count. (Fixed 4 chunks would silently miss pairs for h > 3.)

    Skew contract (r11): a chunk bucket above ``max_bucket_size``
    (default 1024 — e.g. 100k identical boilerplate docs, where EVERY
    chunk bucket is the whole group) degrades to star pairing against
    the bucket's min-id representative: O(n) candidate rows per hot
    bucket instead of O(n^2). Hamming verification still applies to
    every emitted pair, so precision is unchanged; recall within a hot
    bucket is via the representative only (exact for identical-
    signature mass, the overwhelmingly common hot case — see
    _capped_bucket_pairs). ``None`` restores lossless-everywhere.
    """
    n_chunks = max_hamming + 1
    if n_chunks > 32:
        raise ValueError("max_hamming > 31 leaves chunks under 2 bits; use a different blocker")
    width = 64 // n_chunks
    sig = pins.pin(simhash(df, text_col, id_col, shingle_n, portable=portable))

    def chunk_expr(i: int):
        # last chunk absorbs the remainder bits
        w = width if i < n_chunks - 1 else 64 - width * (n_chunks - 1)
        mask = (1 << w) - 1
        return F.struct(
            lit(i).alias("pos"),
            F.shiftrightunsigned(col("simhash"), i * width).bitwiseAND(lit(mask)).alias("chunk"),
        )

    chunks = sig.select(
        col(id_col).alias("_id"),
        col("simhash"),
        F.explode(F.array(*[chunk_expr(i) for i in range(n_chunks)])).alias("ck"),
    )
    if max_bucket_size is not None:
        cands, _ = _capped_bucket_pairs(chunks, "ck", max_bucket_size, carry=["simhash"])
        cands = cands.select("id_a", "id_b", col("simhash_a").alias("sig_a"),
                             col("simhash_b").alias("sig_b"))
    else:
        a, b = chunks.alias("a"), chunks.alias("b")
        cands = (
            a.join(b, (col("a.ck") == col("b.ck")) & (col("a._id") < col("b._id")))
            .select(col("a._id").alias("id_a"), col("b._id").alias("id_b"),
                    col("a.simhash").alias("sig_a"), col("b.simhash").alias("sig_b"))
            .distinct()
        )
    return (
        cands.withColumn("hamming", F.bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
        .filter(col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
