"""Canonical loaders for the benchmark/test tables.

``/root/testdata/sf*/`` holds TPC-H-ish parquet plus ``events``,
``documents`` and ``embeddings``. The ``events.ts`` physical type has
varied across driver-generated datasets (timestamp[ns] — which Spark's
Parquet reader only accepts via the ``nanosAsLong`` legacy conf — vs
timestamp[us]), so the loader adapts to whichever it finds and always
yields a session-timezone TimestampType column.

All loads are plain ``spark.read.parquet`` scans: predicate pushdown,
column pruning and row-group skipping apply untouched.

Analyzed relations are memoized per (session, sf_dir, table, input
snapshot) in the one source-relation memo, ``sources/relations.py``: a
``spark.read.parquet`` call eagerly lists files and reads a footer to
resolve the schema, and re-paying that driver-side cost on every one
of the ~500 load sites in the query inventory is exactly what a
catalog/metastore avoids on a real cluster. The memo holds lazy
DataFrames only (no data is pinned). The snapshot component —
(path, size, mtime) over the table path, the same identity
plans/fingerprint.py keys its Parquet cache on — means rewriting a
table file in place invalidates the memo automatically; ``refresh()``
remains as a belt-and-braces full drop of every memoized relation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from .sources import relations

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
ALL_TABLES = TPCH_TABLES + ("events", "documents", "embeddings")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def refresh() -> None:
    """Drop every memoized source relation, the query tables' and
    ``read_files``' alike (the next load re-lists and re-reads
    footers). A rewrite in place is already seen without it."""
    relations.clear()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # set on a memo hit too: the nanosAsLong legacy conf is
        # consulted at execution time by the parquet reader, not only
        # at analysis. Timestamp rendering (date_trunc/date_format)
        # follows the session timezone; pin UTC so driver-owned
        # sessions render identically to the DuckDB oracle's naive
        # timestamps.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return relations.relation(spark, ("tables", sf_dir, name),
                              relations.path_snapshot(path),
                              lambda: _load_uncached(spark, path, name))


def _load_uncached(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # timestamp[ns] read as epoch-ns long -> TimestampType at
            # microsecond precision. Integer division: epoch-ns values
            # exceed double's 53-bit mantissa, so (ts/1000).cast(long)
            # would be off by 1us near microsecond boundaries.
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, TimestampNTZType):
            # timestamp[us] without tz: under the pinned UTC session
            # timezone this cast is wall-clock identical, and keeps the
            # column type stable across dataset generations.
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in ALL_TABLES}


def register_views(spark: SparkSession, sf_dir: str, tables: tuple = ALL_TABLES) -> None:
    """Register the test tables as temp views so queries can run
    through the plain ``spark.sql`` surface."""
    for t in tables:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
