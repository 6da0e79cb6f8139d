"""End-to-end corpus cleaning pipeline — the composed training-data
path a 100 TB ingest would run:

  1. quality gate (operators/text.py:quality_score heuristics);
  2. exact dedup on the normalized-text fingerprint (min-id survivor);
  3. greedy near-dup removal: among survivors, any doc with n-gram
     Jaccard >= threshold against a LOWER-id doc is dropped (the
     standard deterministic greedy rule — every pair (a < b) drops b).

Stage order matters at scale: the cheap per-row quality gate runs
first (pure expressions, no shuffle), exact dedup second (one narrow
fingerprint shuffle), and the quadratic-ish near-dup detector last,
over the smallest surviving set. Swap ``ngram_jaccard_pairs`` for
``minhash_lsh_pairs`` at corpus scale — identical output contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..scope import origin
from .dedup import fingerprint_md5, ngram_jaccard_pairs
from .text import quality_score


def _quality_survivors(df: DataFrame, text_col: str) -> DataFrame:
    """Stage 1: the per-row quality gate (pure expressions, no
    shuffle), original columns preserved."""
    orig_cols = df.columns
    return quality_score(df, text_col).filter(col("keep")).select(*orig_cols)


def _exact_survivors(
    survivors: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Stage 2: min-id survivor per normalized-text fingerprint.

    ONE window shuffle instead of the former groupBy + re-join (two
    shuffles on _fp); both shapes move every duplicate group through
    its _fp partition, so the skew exposure (a viral text duplicated
    millions of times) is identical — the window just skips the second
    exchange. Measured at sf0.1: full pipeline 3.8 s -> 3.0 s (r6)."""
    from pyspark.sql import Window

    orig_cols = survivors.columns
    w = Window.partitionBy("_fp")
    return (
        survivors.withColumn("_fp", fingerprint_md5(col(text_col)))
        .withColumn("_keep_id", F.min(id_col).over(w))
        .filter(col(id_col) == col("_keep_id"))
        .select(*orig_cols)
    )


def _quality_then_exact(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Stages 1+2 shared by both pipelines."""
    return _exact_survivors(_quality_survivors(df, text_col), text_col, id_col)


def _near_dedup_survivors(
    exact_kept: DataFrame,
    text_col: str,
    id_col: str,
    jaccard_threshold: float,
    shingle_n: int,
    use_lsh: bool,
) -> DataFrame:
    """Stage 3 shared by clean_corpus and corpus_funnel: greedy
    near-dup removal (drop the higher id of every >=threshold pair).
    One definition so the funnel's counts can never diverge from the
    pipeline's actual decisions."""
    if use_lsh:
        from .dedup import minhash_lsh_pairs

        pairs = minhash_lsh_pairs(exact_kept, text_col, id_col,
                                  threshold=jaccard_threshold,
                                  shingle_n=shingle_n)
    else:
        pairs = ngram_jaccard_pairs(exact_kept, text_col, id_col,
                                    n=shingle_n,
                                    threshold=jaccard_threshold)
    dropped = pairs.select(col("id_b").alias(id_col)).distinct()
    return exact_kept.join(dropped, on=id_col, how="left_anti")


@origin("clean_corpus")
def clean_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    shingle_n: int = 4,
    use_lsh: bool = False,
) -> DataFrame:
    """Return the surviving rows of ``df`` after quality gating, exact
    dedup, and near-dup removal (original columns preserved)."""
    exact_kept = _quality_then_exact(df, text_col, id_col)
    # The survivor set feeds three consumers (both sides of the
    # near-dup self-join and the final anti-join). An earlier revision
    # truncated the lineage here with localCheckpoint, but AQE's
    # runtime stage reuse already materializes each identical shuffle
    # subtree once, and the checkpoint's block serialization of the
    # full text column cost more than it saved: measured warm at
    # sf0.1, lazy-ckpt 3.6 s / eager-ckpt 3.5 s / plain declarative
    # 1.7-1.8 s for the full pipeline. At cluster scale, materializing
    # the survivor set to the parquet cache between stages remains the
    # fault-isolation option (plans/fingerprint.py), but is a caller
    # choice, not a default tax.
    return _near_dedup_survivors(
        exact_kept, text_col, id_col, jaccard_threshold, shingle_n, use_lsh)


@origin("curated_corpus")
def curated_corpus(
    df: DataFrame,
    emb: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    threshold_num: int = 42,
    threshold_den: int = 100,
) -> DataFrame:
    """The embedding-era curation pipeline: quality gate -> exact
    dedup -> SEMANTIC dedup (SemDeDup over the survivors' embeddings,
    operators/cluster.py) — the composition a modern training-data
    ingest runs when an embedding column exists, with the shingle-
    Jaccard detector of ``clean_corpus`` replaced by within-cell
    cosine pruning (keep-lowest-id).

    Stage order is again cheapest-first: the per-row quality gate is
    pure expressions, exact dedup is one narrow fingerprint shuffle,
    and the semantic stage runs over the SMALLEST surviving set —
    its centroid sample, cell assignment, and pair kernels only see
    quality-passing, exact-unique docs. The embedding join ships only
    (id, vec); document text never enters the semantic stage.
    """
    from .cluster import semantic_dup_pairs

    exact_kept = _quality_then_exact(df, text_col, id_col)
    surv_emb = emb.select(col(vec_id_col), col(vec_col)).join(
        exact_kept.select(col(id_col).alias(vec_id_col)), vec_id_col)
    pairs = semantic_dup_pairs(
        surv_emb, k=k, threshold_num=threshold_num,
        threshold_den=threshold_den, id_col=vec_id_col, vec_col=vec_col)
    dropped = pairs.select(col("id_b").alias(id_col)).distinct()
    return exact_kept.join(dropped, on=id_col, how="left_anti")


@origin("corpus_funnel")
def corpus_funnel(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    shingle_n: int = 4,
    use_lsh: bool = False,
) -> DataFrame:
    """Per-stage survivor counts through the cleaning pipeline:
    (stage, stage_name, n_docs) for raw -> quality -> exact_dedup ->
    near_dedup — the funnel report a pipeline owner reads before
    committing a filter configuration (a stage that drops 60% of a
    source is a finding, not a cleaning step).

    Counts are declared over the same stage frames clean_corpus
    runs, so the numbers ARE the pipeline's decisions, not a
    re-implementation. Fully declarative, like clean_corpus: an r11
    revision localCheckpointed the two shared stage frames (each
    feeds its own count plus the next stage) to cut re-derivation —
    the audited plan went 23 -> 13 exchanges — but the checkpoint's
    block serialization of the full text column cost more than the
    exchange win, exactly the failure mode clean_corpus's lineage
    note documents. A/B at sf0.1 (r12, 4 reps x 2 rounds each):
    pinned cold 10.0 s / warm ~3.4 s vs plain cold 4.2 s / warm
    ~3.3 s — the pin loses cold and is a wash warm, so it was
    reverted. The re-derived stage expressions are cheap per-row
    projections/filters; AQE's stage reuse covers the shuffle
    subtrees."""
    quality = _quality_survivors(df, text_col)
    exact_kept = _exact_survivors(quality, text_col, id_col)
    final = _near_dedup_survivors(
        exact_kept, text_col, id_col, jaccard_threshold, shingle_n, use_lsh)

    def stage(i: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(i).alias("stage"),
            F.lit(name).alias("stage_name"),
            "n_docs",
        )

    return (
        stage(0, "raw", df)
        .unionByName(stage(1, "quality", quality))
        .unionByName(stage(2, "exact_dedup", exact_kept))
        .unionByName(stage(3, "near_dedup", final))
        .orderBy("stage")
    )
