"""Text analysis operators: tokenization, quality scoring, language ID,
document fingerprinting.

No reference counterpart (BASELINE.json extension surface). Everything
is JVM-side Catalyst expressions (split/regexp/aggregate) so the 100 TB
path never crosses into Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..scope import origin

# BPE-ish word/number/punctuation splitter: words (incl. unicode
# letters), numbers, or single non-space symbols.
BPE_TOKEN_RE = r"[\p{L}]+|[\p{N}]+|[^ \t\n\x0B\f\r\p{L}\p{N}]"

# tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "es"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "que"],
    "de": ["der", "die", "das", "und", "ist", "von", "ein", "eine", "zu", "mit"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "就", "不", "人"],
}


def tokens(c: Column) -> Column:
    """Whitespace tokens of trimmed text (empty text -> empty array)."""
    return F.filter(F.split(F.trim(c), r"[ \t\n\x0B\f\r]+"), lambda t: t != "")


def bpe_tokens(c: Column) -> Column:
    """BPE-ish tokens via regexp_extract_all (words/numbers/symbols)."""
    return F.regexp_extract_all(c, lit(BPE_TOKEN_RE), lit(0))


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


@origin("quality_features")
def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append per-document quality features: token count, char count,
    mean token length, punctuation ratio, digit ratio, stopword ratio
    (any language)."""
    t = col(text_col)
    toks = tokens(t)
    n_toks = F.size(toks)
    n_chars = F.length(t)
    all_stop = [w for ws in STOPWORDS.values() for w in ws]
    stop_hits = F.size(F.filter(toks, lambda x: F.lower(x).isin(all_stop)))
    return (
        df.withColumn("n_tokens", n_toks)
        .withColumn("n_chars_actual", n_chars)
        .withColumn(
            "mean_token_len",
            F.when(n_toks > 0, (F.length(F.regexp_replace(t, r"[ \t\n\x0B\f\r]+", "")) / n_toks)).otherwise(lit(0.0)),
        )
        .withColumn(
            "punct_ratio",
            F.when(n_chars > 0, F.length(F.regexp_replace(t, r"[^.,!?;:'\"()\[\]-]", "")) / n_chars).otherwise(lit(0.0)),
        )
        .withColumn(
            "digit_ratio",
            F.when(n_chars > 0, F.length(F.regexp_replace(t, r"[^0-9]", "")) / n_chars).otherwise(lit(0.0)),
        )
        .withColumn("stopword_ratio", F.when(n_toks > 0, stop_hits / n_toks).otherwise(lit(0.0)))
    )


@origin("quality_score")
def quality_score(df: DataFrame, text_col: str = "text",
                  min_tokens: int = 5, max_mean_token_len: float = 15.0,
                  keep_threshold: float = 0.9) -> DataFrame:
    """Composite [0,1] quality score + keep flag (heuristics in the
    C4/Gopher style: enough tokens, sane token lengths, not digit/
    punctuation dominated). A doc failing ANY single heuristic scores
    at most 0.85 < keep_threshold, so every gate is individually
    disqualifying."""
    qf = quality_features(df, text_col)
    score = (
        F.when(col("n_tokens") >= min_tokens, lit(0.4)).otherwise(lit(0.0))
        + F.when((col("mean_token_len") >= 2) & (col("mean_token_len") <= max_mean_token_len), lit(0.3)).otherwise(lit(0.0))
        + F.when(col("punct_ratio") <= 0.2, lit(0.15)).otherwise(lit(0.0))
        + F.when(col("digit_ratio") <= 0.3, lit(0.15)).otherwise(lit(0.0))
    )
    return qf.withColumn("quality_score", score).withColumn("keep", col("quality_score") >= keep_threshold)


@origin("lang_id")
def lang_id(df: DataFrame, text_col: str = "text", output_col: str = "lang_pred") -> DataFrame:
    """Stopword-vote language ID: score = fraction of tokens in each
    language's stopword list; argmax wins, 'und' if no hits.

    A pure expression tree (array_max over a literal score array); the
    honest limitation — short or stopword-free text -> 'und' — is the
    standard failure mode of lexicon LID.
    """
    toks = F.transform(tokens(col(text_col)), F.lower)
    n = F.greatest(F.size(toks), lit(1))
    scored = F.array(*[
        F.struct((F.size(F.filter(toks, lambda x: x.isin(ws))) / n).alias("score"), lit(lang).alias("lang"))
        for lang, ws in STOPWORDS.items()
    ])
    best = F.array_max(scored)
    return df.withColumn(output_col, F.when(best["score"] > 0, best["lang"]).otherwise(lit("und")))


@origin("doc_fingerprint")
def doc_fingerprint(df: DataFrame, text_col: str = "text", output_col: str = "fingerprint") -> DataFrame:
    """Content-defined md5 fingerprint over normalized text (exact-dup
    key; see operators/dedup.py)."""
    from .dedup import fingerprint_md5

    return df.withColumn(output_col, fingerprint_md5(col(text_col)))


@origin("term_doc_freq")
def term_doc_freq(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-term corpus statistics: document frequency and total term
    frequency (the integer core of TF-IDF — explode + two counts, all
    map-side-combinable)."""
    t = df.select(col(id_col).alias("_id"), F.explode(tokens(F.lower(col(text_col)))).alias("term"))
    return t.groupBy("term").agg(
        F.countDistinct("_id").alias("doc_freq"),
        F.count("*").alias("term_freq"),
    )


@origin("tf_idf")
def tf_idf(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Sparse TF-IDF vectors as (doc, term, tf, idf, tf_idf) rows —
    the join-friendly layout for downstream similarity/clustering.
    idf = ln((N+1)/(df+1)) + 1 (smoothed)."""
    n_docs = df.count()
    toks = df.select(col(id_col).alias("_id"), F.explode(tokens(F.lower(col(text_col)))).alias("term"))
    tf = toks.groupBy("_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = dfreq.withColumn("idf", F.log((F.lit(n_docs) + 1) / (col("df") + 1)) + 1)
    return (
        tf.join(idf, "term")
        .select(col("_id").alias(id_col), "term", "tf", "idf", (col("tf") * col("idf")).alias("tf_idf"))
    )


@origin("rolling_hash")
def rolling_hash(df: DataFrame, text_col: str = "text", output_col: str = "rhash",
                 base: int = 257, mod: int = (1 << 61) - 1) -> DataFrame:
    """Polynomial rolling hash over whitespace tokens (deterministic,
    order-sensitive — unlike a bag-of-words hash). Computed as a JVM
    aggregate over the token array."""
    toks = tokens(col(text_col))
    h = F.aggregate(
        toks,
        lit(0).cast("decimal(38,0)"),
        # re-cast so the merge lambda's type matches the accumulator's
        lambda acc, t: ((acc * base + F.abs(F.xxhash64(t)) % mod) % mod).cast("decimal(38,0)"),
    )
    return df.withColumn(output_col, h.cast("long"))


@origin("pack_bins")
def pack_bins(df: DataFrame, token_col: str, order_col: str, budget: int,
              key_cols: list[str] | None = None) -> DataFrame:
    """Sequence packing, concat-and-chop style: documents are laid out
    in ``order_col`` order within each key group and chopped into
    fixed-``budget`` token bins — ``bin = floor(cum_tokens_before /
    budget)`` (docs may straddle bin boundaries, exactly like LLM
    pretraining packing). Per-key windows keep the cumsum
    partition-parallel; one shuffle. Adds ``_bin`` and
    ``_cum_before``."""
    from pyspark.sql import Window

    keys = key_cols or []
    w = (
        Window.partitionBy(*keys).orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_before = F.sum(col(token_col)).over(w) - col(token_col)
    return df.withColumn("_cum_before", cum_before).withColumn(
        "_bin", F.floor(col("_cum_before") / lit(budget))
    )


def bigrams(c: Column) -> Column:
    """Adjacent token bigrams as 'w1 w2' strings (order-sensitive, NOT
    distinct — repetition analysis needs the multiset)."""
    toks = tokens(c)
    n = F.size(toks)
    a = F.slice(toks, 1, F.greatest(n - 1, lit(0)))
    b = F.slice(toks, 2, F.greatest(n - 1, lit(0)))
    return F.zip_with(a, b, lambda x, y: F.concat_ws(" ", x, y))


def _max_run_length(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a SORTED array =
    multiplicity of the most frequent element. One fold, pure JVM."""
    acc0 = F.struct(lit("").alias("prev"), lit(0).cast("int").alias("run"),
                    lit(0).cast("int").alias("best"))

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(lit(1))
        return F.struct(x.alias("prev"), run.cast("int").alias("run"),
                        F.greatest(acc["best"], run).cast("int").alias("best"))

    return F.aggregate(sorted_arr, acc0, step, lambda acc: acc["best"])


@origin("repetition_stats")
def repetition_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                     method: str = "expr") -> DataFrame:
    """Per-document repetition signals (the Gopher repetition filters):
    ``top_bigram_frac`` = occurrences of the most frequent bigram over
    all bigrams, ``distinct_token_ratio`` = distinct/total tokens.
    Docs with < 2 tokens have no bigrams and are omitted (no
    repetition signal to measure).

    ``method="expr"`` (default): per-row array_sort + run-length fold —
    ZERO shuffle; every doc is scored where it is scanned
    (embarrassingly parallel, the plan you want at 100 TB). O(n log n)
    per doc, fine up to multi-MB documents.

    ``method="explode"``: explode bigrams -> two map-side-combinable
    aggregates keyed by (doc, bigram) then doc. Two shuffles carrying
    bigram strings, but per-row memory stays O(1) — the fallback for
    pathological single documents too large to sort in one task."""
    if method == "expr":
        toks = tokens(col(text_col))
        bg = bigrams(col(text_col))
        n_bg = F.size(bg)
        return (
            df.select(
                col(id_col),
                (_max_run_length(F.array_sort(bg)) / n_bg).alias("top_bigram_frac"),
                (F.size(F.array_distinct(toks)) / F.size(toks)).alias("distinct_token_ratio"),
                n_bg.alias("_n_bg"),
            )
            .filter(col("_n_bg") > 0)
            .drop("_n_bg")
        )
    if method != "explode":
        raise ValueError("method must be 'expr' or 'explode'")
    toks = tokens(col(text_col))
    base = df.select(
        col(id_col).alias("_id"),
        F.size(toks).alias("_n_toks"),
        F.size(F.array_distinct(toks)).alias("_n_distinct"),
        F.explode(bigrams(col(text_col))).alias("_bg"),
    )
    per_bg = base.groupBy("_id", "_n_toks", "_n_distinct", "_bg").agg(F.count("*").alias("_n"))
    return (
        per_bg.groupBy("_id", "_n_toks", "_n_distinct")
        .agg(F.max("_n").alias("_top"), F.sum("_n").alias("_total"))
        .select(
            col("_id").alias(id_col),
            (col("_top") / col("_total")).alias("top_bigram_frac"),
            (col("_n_distinct") / col("_n_toks")).alias("distinct_token_ratio"),
        )
    )


@origin("char_entropy")
def char_entropy(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 output_col: str = "entropy",
                 carry_cols: list[str] | None = None) -> DataFrame:
    """Per-document character-level Shannon entropy (nats) — the
    CCNet-style low-entropy gibberish gate. Explode chars -> count per
    (doc, char) -> -sum(p ln p); both aggregates partial-combine
    map-side, so the corpus never funnels anywhere.

    ``carry_cols`` rides small per-doc attributes (lang, source)
    through the aggregates via any_value, so callers don't pay a
    doc_id shuffle-join back to the source table to recover them —
    at corpus scale that join is a full-table shuffle."""
    carry = carry_cols or []
    ch = df.select(
        col(id_col).alias("_id"), *carry,
        F.explode(F.split(col(text_col), "")).alias("_c"),
    )
    cnt = ch.groupBy("_id", "_c").agg(
        F.count("*").alias("_n"), *[F.any_value(c).alias(c) for c in carry]
    )
    tot = cnt.groupBy("_id").agg(F.sum("_n").alias("_tn"))
    p = col("_n") / col("_tn")
    return (
        cnt.join(tot, "_id")
        .groupBy("_id")
        .agg((-F.sum(p * F.log(p))).alias(output_col),
             *[F.any_value(c).alias(c) for c in carry])
        .withColumnRenamed("_id", id_col)
    )


@origin("gopher_rules")
def gopher_rules(df: DataFrame, text_col: str = "text",
                 min_words: int = 30, max_words: int = 100_000,
                 min_mean_word_len: float = 3.0, max_mean_word_len: float = 10.0,
                 min_distinct_ratio: float = 0.4,
                 min_alpha_word_frac: float = 0.8) -> DataFrame:
    """Gopher-style per-document quality gates (Rae et al. 2021 §A1.1
    heuristics, re-expressed as pure Catalyst expressions): word-count
    bounds, mean-word-length bounds, distinct-word ratio, and the
    fraction of words containing at least one alphabetic character.
    Appends the individual flags and a combined ``gopher_keep``."""
    toks = tokens(col(text_col))
    n = F.size(toks)
    nz = F.greatest(n, lit(1))
    mean_len = F.aggregate(toks, lit(0).cast("long"),
                           lambda acc, t: (acc + F.length(t)).cast("long")) / nz
    distinct_ratio = F.size(F.array_distinct(toks)) / nz
    alpha_frac = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))) / nz
    return (
        df.withColumn("n_words", n)
        .withColumn("mean_word_len", mean_len)
        .withColumn("distinct_ratio", distinct_ratio)
        .withColumn("alpha_word_frac", alpha_frac)
        .withColumn("rule_word_count", (n >= min_words) & (n <= max_words))
        .withColumn("rule_word_len", (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len))
        .withColumn("rule_distinct", distinct_ratio >= min_distinct_ratio)
        .withColumn("rule_alpha", alpha_frac >= min_alpha_word_frac)
        .withColumn(
            "gopher_keep",
            col("rule_word_count") & col("rule_word_len") & col("rule_distinct") & col("rule_alpha"),
        )
    )


@origin("bm25_scores")
def bm25_scores(df: DataFrame, query_terms: list[str], text_col: str = "text",
                id_col: str = "doc_id", k1: float = 1.5, b: float = 0.75) -> DataFrame:
    """BM25 relevance of every document to a fixed term set —
    the classic retrieval scorer (Robertson-Sparck Jones idf):

      idf(t)  = ln( (N - df + 0.5) / (df + 0.5) + 1 )
      score   = sum_t idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Plan: one token explode filtered to the query terms (predicate
    BEFORE the tf aggregate, so only query-term postings shuffle), df
    counts + corpus stats broadcast back. Docs matching no term are
    absent (score 0)."""
    n_docs = df.count()
    toks = df.select(
        col(id_col).alias("_id"),
        F.size(tokens(col(text_col))).alias("_dl"),
        F.explode(tokens(F.lower(col(text_col)))).alias("_t"),
    ).filter(col("_t").isin([t.lower() for t in query_terms]))
    tf = toks.groupBy("_id", "_dl", "_t").agg(F.count("*").alias("_tf"))
    dfreq = tf.groupBy("_t").agg(F.count("*").alias("_df"))
    avgdl = df.select(F.avg(F.size(tokens(col(text_col)))).alias("a")).first()["a"]
    # degenerate corpora: avg() over zero rows is None, and an
    # all-empty corpus has avgdl == 0 — both would crash or div/0 the
    # length normalization; any positive value is equivalent there
    # because no doc can match a query term anyway (tf is empty)
    avgdl = float(avgdl) if avgdl else 1.0
    idf = F.log((lit(float(n_docs)) - col("_df") + 0.5) / (col("_df") + 0.5) + 1.0)
    contrib = idf * (col("_tf") * (k1 + 1)) / (col("_tf") + k1 * (1 - b + b * col("_dl") / lit(avgdl)))
    return (
        tf.join(F.broadcast(dfreq), "_t")
        .groupBy("_id")
        .agg(F.sum(contrib).alias("bm25"))
        .withColumnRenamed("_id", id_col)
    )


@origin("token_cooccurrence")
def token_cooccurrence(
    df: DataFrame,
    min_pair_count: int = 2,
    min_df: int = 2,
    max_distinct_per_doc: int | None = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Within-document token co-occurrence with PMI scoring.

    pmi(a, b) = ln( (c_ab * N) / (c_a * c_b) ) over document-level
    presence counts (each token counted once per doc), the standard
    collocation statistic.

    Plan: per-doc DISTINCT tokens (array_distinct before the explode,
    so a token repeated in one doc contributes one posting), pair
    generation via an equi self-join on the doc id with ``t1 < t2``
    (each unordered pair once), then map-side-combinable counts.

    100 TB design — two levers keep the doc-id self-join linear-ish,
    and BOTH default on:

    * ``min_df`` (default 2) prunes the long tail of the vocabulary
      BEFORE the self-join (a broadcast semi join on the surviving
      vocab) — hapaxes cannot reach min_pair_count>=2 anyway, so the
      default prune is lossless for the output.
    * ``max_distinct_per_doc`` (default 4096) caps the per-doc distinct
      vocabulary BEFORE pair generation, bounding the join fan-out of
      one pathological shard (a single 100k-distinct-token doc would
      otherwise emit ~5e9 pairs in one task). The cap keeps the
      alphabetically-first K tokens (sort -> slice: deterministic and
      oracle-mirrorable; natural-language docs sit far below it, so it
      is a safety valve, not a sampler). Pass ``None`` to disable.

    Measured (PERFORMANCE.md round-4 probe): 100k docs in 5.3 s with
    both defaults on; adding a pathological 50k-distinct-token doc
    changes nothing (4.5 s) — its hapax vocabulary is pruned before
    pair generation.

    Determinism: every score input is an integer count; pmi is one
    IEEE division + ln of identical doubles in any engine.
    """
    toks = F.array_distinct(tokens(col(text_col)))
    if max_distinct_per_doc is not None:
        toks = F.slice(F.array_sort(toks), 1, max_distinct_per_doc)
    td = df.select(
        col(id_col).alias("_doc"),
        F.explode(toks).alias("_tok"),
    )
    dfreq = td.groupBy("_tok").agg(F.count("*").alias("_df"))
    if min_df > 1:
        keep = dfreq.filter(col("_df") >= min_df).select("_tok")
        td = td.join(F.broadcast(keep), "_tok", "left_semi")
    n_docs = df.count()
    a = td.select(col("_doc"), col("_tok").alias("t1"))
    b = td.select(col("_doc"), col("_tok").alias("t2"))
    pairs = (
        a.join(b, ["_doc"])
        .filter(col("t1") < col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count("*").alias("pair_count"))
        .filter(col("pair_count") >= min_pair_count)
    )
    d1 = dfreq.select(col("_tok").alias("t1"), col("_df").alias("_df1"))
    d2 = dfreq.select(col("_tok").alias("t2"), col("_df").alias("_df2"))
    pmi = F.log(
        (col("pair_count").cast("double") * lit(float(n_docs)))
        / (col("_df1").cast("double") * col("_df2").cast("double"))
    )
    return (
        pairs.join(F.broadcast(d1), "t1")
        .join(F.broadcast(d2), "t2")
        .select("t1", "t2", "pair_count", pmi.alias("pmi"))
    )


@origin("unigram_surprise")
def unigram_surprise(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document cross-entropy under a corpus-fitted unigram LM —
    the cheapest "perplexity filter" a training-data pipeline runs
    before any neural scorer: docs whose tokens are globally rare get
    a high mean surprise (-ln p) and sit at the contamination/garbage
    tail.

    Returns one row per document: (id_col, n_tokens, sum_surprise,
    xent) where xent = sum(-ln c_t/N) / n_tokens over whitespace
    tokens.

    Plan: explode -> map-side-combinable global token counts (vocab
    table, much smaller than the corpus) -> shuffle join of postings
    with counts on the token -> per-doc sum. The join carries
    (doc_id, tok) pairs only, never document bodies.

    Determinism: each per-token surprise is quantized to
    DECIMAL(18,8) before the per-doc SUM, so the sum is exact and
    order-free; the only floats are ln/division of engine-identical
    inputs (queries.py module docstring).
    """
    toks = df.select(col(id_col).alias("_id"), F.explode(tokens(col(text_col))).alias("_tok"))
    counts = toks.groupBy("_tok").agg(F.count("*").alias("_c"))
    total = counts.agg(F.sum("_c").cast("double").alias("_total"))
    surprise = (
        toks.join(counts, "_tok")
        .crossJoin(F.broadcast(total))
        .select(
            "_id",
            # explicit ROUND before the decimal cast: half-way ties then
            # resolve by the engines' shared ROUND semantics, not by each
            # engine's cast-rounding rule
            F.round(-F.log(col("_c").cast("double") / col("_total")), 8)
            .cast("decimal(18,8)")
            .alias("_s"),
        )
    )
    return (
        surprise.groupBy("_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("_s").cast("double").alias("sum_surprise"),
        )
        .select(
            col("_id").alias(id_col),
            "n_tokens",
            "sum_surprise",
            (col("sum_surprise") / col("n_tokens")).alias("xent"),
        )
    )


@origin("tfidf_keywords")
def tfidf_keywords(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k TF-IDF keywords — the cheap extractive
    tagging pass a corpus pipeline runs for faceting / retrieval
    hints.

    Returns (id_col, term, rank, score): rank 1..k per document by
    tf * ln(N/df), ties broken by term so the cut is total.

    Plan: explode -> per-(doc, term) tf counts -> per-term df (one row
    per posting GROUP, so df = document frequency exactly) -> join idf
    onto the postings -> per-doc top-k via a row_number window keyed by
    the document (high-cardinality partition key: parallel at any
    scale). The df table is vocabulary-sized; broadcast when it fits
    (the default here), else let AQE choose a shuffle join.
    """
    toks = df.select(
        col(id_col).alias("_id"), F.explode(tokens(col(text_col))).alias("_t"))
    tf = toks.groupBy("_id", "_t").agg(F.count("*").alias("_tf"))
    dfreq = tf.groupBy("_t").agg(F.count("*").alias("_df"))
    n_docs = df.count()
    from pyspark.sql import Window

    scored = tf.join(F.broadcast(dfreq), "_t").withColumn(
        "score", col("_tf") * F.log(lit(float(n_docs)) / col("_df")))
    w = Window.partitionBy("_id").orderBy(col("score").desc(), col("_t"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("_id").alias(id_col), col("_t").alias("term"),
                "rank", "score")
    )


def spans(c: Column, span_tokens: int = 10) -> Column:
    """Non-overlapping ``span_tokens``-token windows of a text column
    as space-joined strings (the C4-style span unit for cross-document
    span-level dedup). The final partial span (< span_tokens tokens)
    is kept — short boilerplate tails matter."""
    toks = tokens(c)
    n_spans = F.ceil(F.size(toks) / lit(span_tokens)).cast("int")
    return F.transform(
        F.sequence(lit(0), F.greatest(n_spans - 1, lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i * span_tokens + 1, span_tokens)),
    )


@origin("span_dedup_stats")
def span_dedup_stats(
    df: DataFrame,
    span_tokens: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document span-level duplication profile — the C4/RefinedWeb
    "remove spans seen elsewhere" signal, scored rather than applied:
    per document, how many of its spans also occur in >= ``min_docs``
    documents (boilerplate headers, license blocks, navigation chrome).

    Returns (id_col, n_spans, dup_spans, dup_frac).

    Plan: explode non-overlapping spans -> per-span DISTINCT-doc count
    (two combinable aggs) -> broadcast-or-shuffle join of the hot-span
    set back onto the postings -> per-doc counts. The span table
    carries (doc_id, span_hash) longs after the first projection, so
    at 100 TB the shuffle is two longs per span, never document
    bodies; counts are integers (engine-exact).
    """
    sp = df.select(
        col(id_col).alias("_doc"),
        F.explode(spans(col(text_col), span_tokens)).alias("_sp"),
    ).filter(col("_sp") != "")
    # hash spans to longs before any shuffle: 8 bytes vs the span text
    sp = sp.select("_doc", F.xxhash64(col("_sp")).alias("_h"))
    per_doc = sp.groupBy("_doc").agg(F.count("*").alias("n_spans"))
    hot = (
        sp.groupBy("_h")
        .agg(F.count_distinct("_doc").alias("_nd"))
        .filter(col("_nd") >= min_docs)
        .select("_h")
    )
    dup = (
        sp.join(hot, "_h", "left_semi")
        .groupBy("_doc")
        .agg(F.count("*").alias("dup_spans"))
    )
    return (
        per_doc.join(dup, "_doc", "left")
        .select(
            col("_doc").alias(id_col),
            "n_spans",
            F.coalesce(col("dup_spans"), lit(0)).alias("dup_spans"),
            (F.coalesce(col("dup_spans"), lit(0)) / col("n_spans")).alias("dup_frac"),
        )
    )


def ascii_ratio(c: Column, n_chars: Column) -> Column:
    """Fraction of printable-ASCII characters, against a caller-supplied
    total length (pass a stored n_chars column when one exists: counting
    ASCII matches is engine-unambiguous, while full string length can
    differ across engines on astral code points)."""
    n_ascii = F.length(F.regexp_replace(c, r"[^ -~]", ""))
    return F.when(n_chars > 0, n_ascii.cast("double") / n_chars.cast("double")).otherwise(lit(1.0))


@origin("bigram_surprise")
def bigram_surprise(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document cross-entropy under a corpus-fitted bigram LM with
    add-one smoothing — the CCNet-style "perplexity filter" one rung
    above ``unigram_surprise``: it also flags documents whose tokens
    are individually common but strung together in globally unusual
    ways (boilerplate mashups, shuffled text, template spam).

    Model: P(w2|w1) = (c(w1 w2) + 1) / (c(w1·) + V) where c(w1·)
    counts bigram positions whose context is w1 and V is the corpus
    distinct-token count. Returns one row per document with >= 2
    tokens: (id_col, n_bigrams, sum_surprise, xent).

    Plan at 100 TB: bigrams are built per-row with zip_with over two
    array slices (no explode-then-self-join — the classic quadratic
    trap); postings carry (doc_id, 'w1 w2') strings only, never
    bodies. Bigram counts and context counts are map-side-combinable
    groupBys; V is a 1-row broadcast. The postings->counts joins
    shuffle on the bigram/context key, both linear in corpus token
    count.

    Determinism: per-position surprise is ROUND(...,8) then
    DECIMAL(18,8)-quantized before the per-doc SUM (order-free exact
    accumulation); ln/division inputs are engine-identical integers.
    """
    t = tokens(col(text_col))
    n = F.size(t)
    bg_arr = F.when(
        n >= 2,
        F.zip_with(
            F.slice(t, F.lit(1), n - 1),
            F.slice(t, F.lit(2), n - 1),
            lambda a, b: F.concat(a, lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    posts = df.select(
        col(id_col).alias("_id"), F.explode(bg_arr).alias("_bg")
    ).withColumn("_w1", F.split(col("_bg"), " ", 2).getItem(0))
    uni = df.select(F.explode(tokens(col(text_col))).alias("_tok"))
    vocab = uni.agg(F.count_distinct("_tok").cast("double").alias("_v"))
    bgc = posts.groupBy("_bg").agg(F.count("*").alias("_cbg"))
    ctx = posts.groupBy("_w1").agg(F.count("*").alias("_cw1"))
    surprise = (
        posts.join(bgc, "_bg")
        .join(ctx, "_w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "_id",
            F.round(
                -F.log((col("_cbg") + lit(1)).cast("double") / (col("_cw1") + col("_v"))),
                8,
            )
            .cast("decimal(18,8)")
            .alias("_s"),
        )
    )
    return (
        surprise.groupBy("_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("_s").cast("double").alias("sum_surprise"),
        )
        .select(
            col("_id").alias(id_col),
            "n_bigrams",
            "sum_surprise",
            (col("sum_surprise") / col("n_bigrams")).alias("xent"),
        )
    )
