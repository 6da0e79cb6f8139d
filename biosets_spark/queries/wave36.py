"""Thirty-sixth-wave query inventory: training-data shipping ops —
a deterministic shard-layout audit (the balanced hash-sharding every
100 TB corpus export runs before writing N output files) and Cohen's
kappa (the chance-corrected agreement scalar that summarizes
q_langid_confusion's matrix into one label-quality number).

Determinism discipline (queries.py header): shard assignment uses the
engine-portable md5-derived 60-bit hash (the q_stratified_sample
gate); kappa is a closed-form double over exact integer confusion
counts, rounded 6.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col, lit

from .. import pins, tables
from . import q
from .wave12 import _langid_confusion_oracle

_N_SHARDS = 64


@q(
    "q_shard_assignment",
    oracle=f"""
    WITH sharded AS (
      SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % {_N_SHARDS} AS shard,
             n_chars
      FROM documents
    ), per AS (
      SELECT shard, COUNT(*) AS n_docs,
             SUM(n_chars) AS total_chars
      FROM sharded GROUP BY shard
    ), tot AS (
      SELECT SUM(n_docs) AS big_n, SUM(total_chars) AS big_c FROM per
    )
    SELECT shard, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_chars AS BIGINT) AS total_chars,
           (CAST(n_docs AS DOUBLE) * {_N_SHARDS} / big_n)
             AS doc_balance,
           (CAST(total_chars AS DOUBLE) * {_N_SHARDS} / big_c)
             AS byte_balance
    FROM per, tot ORDER BY shard
    """,
    desc=f"Deterministic shard-layout audit for a {_N_SHARDS}-way "
         "corpus export: every document is assigned shard = "
         "portable-md5-hash(doc_id) mod N (the same engine-portable "
         "60-bit gate as q_stratified_sample, so any engine and any "
         "rerun produce the SAME layout), and the audit reports "
         "per-shard doc and byte totals plus balance ratios vs the "
         "ideal 1/N — the pre-write check that catches a skewed or "
         "broken id space before 1000 writers produce lopsided "
         "files. One combinable N-group agg + a 1-row total "
         "broadcast (tagged cross); at 100 TB this IS the write "
         "partitioner: repartition(N, shard) feeds N parquet "
         "writers with no further shuffle.",
    tags=["sampling", "agg", "cross"],
)
def q_shard_assignment(spark, sf_dir):
    from ..operators.dedup import portable_hash60

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    per = (
        docs.select(
            F.pmod(portable_hash60(col("doc_id").cast("string")),
                   lit(_N_SHARDS)).alias("shard"),
            "n_chars",
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    tot = per.agg(
        F.sum("n_docs").alias("big_n"), F.sum("total_chars").alias("big_c")
    )
    return (
        per.crossJoin(broadcast(tot))
        .select(
            "shard",
            col("n_docs").cast("long").alias("n_docs"),
            col("total_chars").cast("long").alias("total_chars"),
            (col("n_docs").cast("double") * _N_SHARDS / col("big_n"))
            .alias("doc_balance"),
            (col("total_chars").cast("double") * _N_SHARDS / col("big_c"))
            .alias("byte_balance"),
        )
        .orderBy("shard")
    )


@q(
    "q_cohens_kappa",
    oracle=f"""
    WITH cells AS (
      SELECT * FROM ({_langid_confusion_oracle()}) conf
    ), rm AS (
      SELECT lang AS k, SUM(n) AS nr FROM cells GROUP BY 1
    ), cm AS (
      SELECT lang_pred AS k, SUM(n) AS nc FROM cells GROUP BY 1
    ), agg AS (
      SELECT (SELECT SUM(n) FROM cells) AS big_n,
             (SELECT COALESCE(SUM(n), 0) FROM cells
              WHERE lang = lang_pred) AS agree,
             (SELECT SUM(nr * nc) FROM rm JOIN cm USING (k)) AS pe_num
    )
    SELECT CAST(big_n AS BIGINT) AS n_docs,
           (CAST(agree AS DOUBLE) / big_n) AS observed_agreement,
           (CAST(pe_num AS DOUBLE) / (CAST(big_n AS DOUBLE) * big_n))
             AS expected_agreement,
           ((CAST(agree AS DOUBLE) / big_n
                  - CAST(pe_num AS DOUBLE) / (CAST(big_n AS DOUBLE) * big_n))
                 / (1 - CAST(pe_num AS DOUBLE)
                        / (CAST(big_n AS DOUBLE) * big_n))) AS kappa
    FROM agg
    """,
    desc="Cohen's kappa between the labeled language and the "
         "stopword-vote prediction — the chance-corrected agreement "
         "scalar that compresses q_langid_confusion's matrix into the "
         "one number a labeling-quality dashboard tracks (kappa ~ 0 "
         "means the predictor is guessing marginals; the raw accuracy "
         "q_langid_confusion implies would overstate it). The corpus "
         "collapses in the same pure-expression confusion agg; row/"
         "column marginals and the diagonal reduce over that tiny "
         "cell table; kappa is one closed-form double over exact "
         "integer counts. The two 1-row combines are deliberate "
         "broadcasts (tagged cross).",
    tags=["text", "langid", "stats", "agg", "cross"],
)
def q_cohens_kappa(spark, sf_dir):
    from ..operators import text as T

    docs = tables.load(spark, sf_dir, "documents").select("lang", "text")
    # the confusion-cell table feeds THREE plan branches (row margins,
    # column margins, agreement); without materialization Catalyst
    # re-runs the regex-heavy lang_id scan once per branch (measured
    # 3x). localCheckpoint the <=25-cell table so the corpus is
    # scanned once.
    cells = pins.pin(
        T.lang_id(docs).groupBy("lang", "lang_pred").agg(F.count("*").alias("n")),
        checkpoint=True, eager=True)
    rm = cells.groupBy(col("lang").alias("k")).agg(F.sum("n").alias("nr"))
    cm = cells.groupBy(col("lang_pred").alias("k")).agg(F.sum("n").alias("nc"))
    pe = (
        rm.join(broadcast(cm), "k")
        .agg(F.sum(col("nr") * col("nc")).alias("pe_num"))
    )
    base = cells.agg(
        F.sum("n").alias("big_n"),
        F.coalesce(
            F.sum(F.when(col("lang") == col("lang_pred"), col("n"))), lit(0)
        ).alias("agree"),
    )
    nd = col("big_n").cast("double")
    po = col("agree").cast("double") / nd
    pe_share = col("pe_num").cast("double") / (nd * nd)
    return (
        base.crossJoin(broadcast(pe))
        .select(
            col("big_n").cast("long").alias("n_docs"),
            (po).alias("observed_agreement"),
            (pe_share).alias("expected_agreement"),
            ((po - pe_share) / (1 - pe_share)).alias("kappa"),
        )
    )
