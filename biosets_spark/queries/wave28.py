"""Twenty-eighth-wave query inventory: experiment analytics — the
two-proportion z-test an A/B readout computes (user-day exposure
units, deterministic hash-assigned arms), and the Kaplan-Meier
estimator over hours-to-convert (the clinical-trial estimator the
reference's biomedical data model exists to feed, applied to funnel
survival).

Determinism discipline (queries.py header): both statistics are
closed-form expressions of exact integer counts; Kaplan-Meier's
cumulative product runs as a cumulative DECIMAL sum of 12-dec-rounded
log terms (one EXP at the end); event times are integer microseconds
floored to whole hours (the wave-16 sessionize precedent).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col

from .. import pins, tables
from ..operators.dedup import portable_hash60
from . import dfloor, q


@q(
    "q_ab_test_z",
    oracle="""
    WITH units AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS exposed,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), arms AS (
      SELECT (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2)
               AS arm,
             COUNT(*) AS n, SUM(converted) AS x
      FROM units WHERE exposed = 1 GROUP BY arm
    ), wide AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 0 THEN x END) AS x0,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1,
             MAX(CASE WHEN arm = 1 THEN x END) AS x1
      FROM arms
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(x0 AS BIGINT) AS x0,
           CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
           (CAST(x0 AS DOUBLE) / n0 - CAST(x1 AS DOUBLE) / n1) AS diff,
           ((CAST(x0 AS DOUBLE) / n0 - CAST(x1 AS DOUBLE) / n1)
                 / SQRT((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                        * (1 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1))) AS z
    FROM wide
    """,
    desc="Two-proportion z-test between deterministic experiment arms "
         "(users hash-assigned by the audited md5 split — the "
         "reproducible traffic-split primitive): the analysis unit is "
         "the exposed user-day (any view that day), the outcome any "
         "purchase that day, pooled-variance z in closed form. "
         "Everything is exact integer counts until one final "
         "expression — nothing accumulates in floating point; the "
         "per-unit collapse is one combinable agg over the stream. "
         "(Clustered assignment with user-day units is the standard "
         "naive readout; a cluster-robust variance is analysis-side "
         "policy, not an engine shape.)",
    tags=["events", "agg", "sample"],
)
def q_ab_test_z(spark, sf_dir):
    ev = tables.load(spark, sf_dir, "events")
    units = (
        ev.groupBy("user_id", col("ts").cast("date").alias("d"))
        .agg(
            F.max((col("event_type") == "view").cast("long")).alias("exposed"),
            F.max((col("event_type") == "purchase").cast("long")).alias("converted"),
        )
    )
    arms = (
        units.filter(col("exposed") == 1)
        .withColumn("arm", F.pmod(portable_hash60(col("user_id").cast("string")), F.lit(2)))
        .groupBy("arm")
        .agg(F.count("*").alias("n"), F.sum("converted").alias("x"))
    )
    wide = arms.agg(
        F.max(F.when(col("arm") == 0, col("n"))).alias("n0"),
        F.max(F.when(col("arm") == 0, col("x"))).alias("x0"),
        F.max(F.when(col("arm") == 1, col("n"))).alias("n1"),
        F.max(F.when(col("arm") == 1, col("x"))).alias("x1"),
    )
    p0 = col("x0").cast("double") / col("n0")
    p1 = col("x1").cast("double") / col("n1")
    pp = (col("x0") + col("x1")).cast("double") / (col("n0") + col("n1"))
    return wide.select(
        "n0", "x0", "n1", "x1",
        (p0 - p1).alias("diff"),
        ((p0 - p1)
            / F.sqrt(pp * (1 - pp) * (1.0 / col("n0") + 1.0 / col("n1")))).alias("z"),
    )


@q(
    "q_survival_km",
    oracle="""
    WITH fv AS (
      SELECT user_id, MIN(ts) AS v FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), conv AS (
      SELECT e.user_id,
             CAST((epoch_us(MIN(e.ts)) - epoch_us(fv.v)) // 3600000000 AS BIGINT)
               AS t
      FROM events e JOIN fv ON e.user_id = fv.user_id
      WHERE e.event_type = 'purchase' AND e.ts > fv.v
      GROUP BY e.user_id, fv.v
    ), risk AS (
      SELECT t, COUNT(*) AS d FROM conv GROUP BY t
    ), tbl AS (
      SELECT t, d,
             SUM(d) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n_at_risk
      FROM risk
    )
    SELECT CAST(t AS INT) AS hour,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_events,
           (EXP(CAST(SUM(CAST(FLOOR((LN(1.0 - CAST(d AS DOUBLE) / n_at_risk)) * 1e12 + 0.5) / 1e12
                                   AS DECIMAL(38,12)))
                          OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE)))
             AS survival
    FROM tbl WHERE 1.0 - CAST(d AS DOUBLE) / n_at_risk > 0 ORDER BY hour
    """,
    desc="Kaplan-Meier estimator over whole hours from first view to "
         "first purchase (the clinical time-to-event estimator the "
         "reference's biomedical datasets feed, applied to funnel "
         "survival — S(t) is the probability of remaining "
         "unconverted after t hours). n-at-risk is the descending "
         "cumulative event count and S(t) = prod(1 - d/n) runs in the "
         "log domain as a cumulative DECIMAL sum of 12-dec terms with "
         "one EXP at the end (the cumulative-product analogue of the "
         "decimal-sum discipline); the last interval, where survival "
         "hits exactly zero, is excluded so LN stays finite on both "
         "engines. Event times are integer microseconds floored to "
         "hours. Both cumulatives are tiny range self-joins against a "
         "broadcast of the <=250-row per-hour table — not global "
         "ordered windows, which would funnel a stream through one "
         "task at scale; the per-user collapse is one combinable agg. "
         "Complements q_funnel_latency's percentiles with the full "
         "curve.",
    tags=["events", "range", "agg", "cross", "omics"],
)
def q_survival_km(spark, sf_dir):
    ev = tables.load(spark, sf_dir, "events")
    fv = (
        ev.filter(col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("v"))
    )
    conv = (
        ev.filter(col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(col("ts") > col("v"))
        .groupBy("user_id", "v")
        .agg((F.unix_micros(F.min("ts")) - F.unix_micros(col("v"))).alias("us"))
        .withColumn("t", F.expr("us DIV 3600000000"))
    )
    risk = conv.groupBy("t").agg(F.count("*").alias("d"))
    risk = pins.pin(risk, checkpoint=True)  # three self-join consumers
    r2 = risk.select(col("t").alias("t2"), col("d").alias("d2"))
    tbl = (
        risk.join(broadcast(r2), col("t2") >= col("t"))
        .groupBy("t", "d")
        .agg(F.sum("d2").alias("n_at_risk"))
        .filter(1.0 - col("d").cast("double") / col("n_at_risk") > 0)
    )
    s2 = tbl.select(
        col("t").alias("t3"), col("d").alias("d3"), col("n_at_risk").alias("n3")
    )
    lnterm = (dfloor((F.log(1.0 - col("d3").cast("double") / col("n3"))) * F.lit(1e12) + F.lit(0.5)) / F.lit(1e12)).cast("decimal(38,12)")
    return (
        tbl.join(broadcast(s2), col("t3") <= col("t"))
        .groupBy("t", "d", "n_at_risk")
        .agg((F.exp(F.sum(lnterm).cast("double"))).alias("survival"))
        .select(
            col("t").cast("int").alias("hour"),
            col("n_at_risk").cast("long").alias("n_at_risk"),
            col("d").cast("long").alias("n_events"),
            "survival",
        )
        .orderBy("hour")
    )
