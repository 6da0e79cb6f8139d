"""Batch event-log operators: sessionization and keep-latest-version.

These are the batch twins of the streaming session window /
stateful-dedup operators in ``streaming/ingest.py`` — the shapes a
pipeline runs over the historical event archive rather than the live
stream. No reference counterpart (BASELINE.json extension surface).

100 TB design: both operators are one window function over a
``PARTITION BY key`` spec — Spark hash-partitions by key and sorts
within partitions, so the only shuffle is the per-key exchange and no
global sort exists. A total per-key order (timestamp + unique id
tie-break) makes every output deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..scope import origin


@origin("sessionize")
def sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Assign batch session ids: a new session starts when the gap to
    the previous event of the same key exceeds ``gap_minutes``.

    Plan: lag() over (key ORDER BY ts, tiebreak) marks session starts;
    a running SUM of the start flags over the same window numbers the
    sessions — two window passes over ONE partitioning/sort (a single
    exchange + sort at any scale). The tie-break column makes the
    order total, so session boundaries are reproducible.

    Returns the input plus ``session_id`` (1-based per key).
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    prev_ts = F.lag(col(ts_col)).over(w)
    # microsecond-exact gap comparison: second-truncated casts would
    # disagree with a fractional-seconds oracle on gaps that straddle
    # the threshold by less than a second
    is_start = F.when(
        prev_ts.isNull()
        | (
            F.unix_micros(col(ts_col)) - F.unix_micros(prev_ts)
            > gap_minutes * 60_000_000
        ),
        1,
    ).otherwise(0)
    return df.withColumn("_start", is_start).withColumn(
        "session_id", F.sum("_start").over(w)
    ).drop("_start")


@origin("keep_latest")
def keep_latest(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Latest row per key (compaction / upsert-resolution): row_number
    over (key ORDER BY ts DESC, tiebreak DESC) == 1.

    The standard changelog-compaction shape; one exchange on the key,
    per-partition sort, no global ordering. The unique tie-break makes
    "latest" total even when timestamps collide.
    """
    w = Window.partitionBy(key_col).orderBy(
        col(ts_col).desc(), col(tiebreak_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(col("_rn") == 1)
        .drop("_rn")
    )
