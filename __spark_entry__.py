"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship query DataFrame at sf0.001
queries()      -> {name: fn(spark, sf_dir) -> DataFrame} per SURVEY §2
oracle_sql()   -> {name: DuckDB-runnable ANSI SQL} for value-hash compare

Query implementations live in the biosets_spark/queries/ package
(base relational inventory in __init__.py; dedup / similarity / text
/ events / advanced waves in ext.py, more.py, wave3..wave105.py,
loaded in registration order by the package manifest); this module is
a thin adapter.
"""

from __future__ import annotations

import json
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from biosets_spark import queries as _q  # noqa: E402  (importing the package registers the full inventory via its manifest)
from biosets_spark.session import apply_session_conf  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the M0 vertical slice —
    metadata-style broadcast join + label encoding + aggregation over
    the star schema (SURVEY §7.1)."""
    apply_session_conf(spark)
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast, col, lit

    from biosets_spark import tables
    from biosets_spark.operators import labels as L

    sf_dir = "/root/testdata/sf0.001"
    o = tables.load(spark, sf_dir, "orders")
    c = tables.load(spark, sf_dir, "customer")
    n = tables.load(spark, sf_dir, "nation")

    # enrich orders (data) with customer attributes (sample metadata)
    enriched = o.join(
        broadcast(c.select(col("c_custkey").alias("o_custkey"), "c_mktsegment", "c_nationkey")),
        on="o_custkey", how="left",
    ).join(broadcast(n), col("c_nationkey") == col("n_nationkey"), "left")
    encoded, _ = L.encode_labels(enriched, "c_mktsegment")
    return (
        encoded.groupBy("n_name", "encoded_labels", "c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        )
        .orderBy("n_name", "encoded_labels")
    )


def _green_rounds(directory: Path) -> dict[str, int]:
    """Each query's green round, derived from the driver's committed
    ``CORRECTNESS_rNN.json`` files in ``directory``.

    The driver records only the first ~50 entries of ``queries()``, so
    the order decides which rows it re-checks. Files are read in
    ascending round order; a name's tag is the last round whose row
    has ``rows_match``, ``schema_match`` and ``hash_match`` all true.
    A name whose latest row is red loses its tag until a later round
    is green again, so, like a never-checked name, it sorts into the
    front of the window. Tagged names follow oldest green first: spare
    window rows re-check the stalest rows, and a fresh file moves its
    names to the back with no hand upkeep.
    """
    files = sorted((int(p.stem.removeprefix("CORRECTNESS_r")), p)
                   for p in directory.glob("CORRECTNESS_r*.json"))
    tags: dict[str, int] = {}
    for rnd, path in files:
        for name, row in json.loads(path.read_text()).items():
            if all(row.get(k) for k in ("rows_match", "schema_match", "hash_match")):
                tags[name] = rnd
            else:
                tags.pop(name, None)
    return tags


_GREEN_ROUND = _green_rounds(Path(__file__).resolve().parent)


def _ordered_names() -> list[str]:
    """Never-checked (or red) names first, in registration order, then
    the checked names oldest green round first (the stable sort keeps
    registration order within a round)."""
    names = list(_q.QUERIES)
    front = [n for n in names if n not in _GREEN_ROUND]
    checked = sorted((n for n in names if n in _GREEN_ROUND), key=lambda n: _GREEN_ROUND[n])
    return front + checked


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {}
    for name in _ordered_names():
        query = _q.QUERIES[name]
        def make(fn):
            def wrapped(spark, sf_dir, _fn=fn):
                apply_session_conf(spark)
                return _fn(spark, sf_dir)
            return wrapped
        out[name] = make(query.fn)
    return out


def oracle_sql() -> dict[str, str]:
    return {
        name: _q.QUERIES[name].oracle
        for name in _ordered_names()
        if _q.QUERIES[name].oracle
    }
