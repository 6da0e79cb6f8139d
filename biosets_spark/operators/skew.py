"""Skew- and layout-aware join utilities for 100 TB operation.

AQE's skew-join splitting (on by default in session.py) handles most
skew at runtime for sort-merge joins. These helpers cover the cases
AQE cannot:

- ``salted_join``: explicit key salting for aggregations/joins where
  one key dominates (e.g. a null-heavy or celebrity key). The skewed
  (large) side gets a random salt in [0, n); the small side is
  replicated n times. Turns one hot partition into n warm ones.
- ``save_bucketed`` / co-located reads: pre-bucketing both sides of a
  recurring join on the join key eliminates the shuffle entirely on
  every subsequent join (the classic ETL-once/query-many layout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..scope import origin


@origin("salted_join")
def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with explicit salting of the large (skewed) side.

    large gets salt = pmod(xxhash64(random-ish row expr), n); small is
    exploded across all n salts. The join key becomes (key, salt), so a
    hot key's rows spread over n partitions. Output columns match a
    plain ``large.join(small, on, how)``.

    Only join types where the SMALL side never produces unmatched
    output rows are valid: its rows are replicated n times, so right/
    full outer would emit n-1 spurious null-extended rows per
    small-side row.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(
            f"salted_join supports inner/left/left_semi/left_anti, not {how!r}: "
            "the replicated small side would emit spurious unmatched rows"
        )
    salted_l = large.withColumn("_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), lit(n_salts)))
    salts = F.explode(F.sequence(lit(0), lit(n_salts - 1))).alias("_salt")
    salted_s = small.select("*", salts)
    out = salted_l.join(salted_s, on=[on, "_salt"], how=how)
    return out.drop("_salt")


def save_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str] | str,
    n_buckets: int = 32,
    sort_cols: list[str] | str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Two tables bucketed identically on their join key join WITHOUT a
    shuffle (both sides' partitioning satisfies the join's
    distribution). Requires a metastore-backed saveAsTable; the session
    factory points spark.sql.warehouse.dir at a scratch location.
    """
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else bucket_cols
    if mode == "overwrite":
        # clear both the catalog entry and any orphaned location (a
        # managed-table dir left behind by a prior session/metastore)
        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        import shutil

        wh = spark.conf.get("spark.sql.warehouse.dir", "").replace("file:", "")
        if wh:
            shutil.rmtree(f"{wh.rstrip('/')}/{table_name.lower()}", ignore_errors=True)
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else sort_cols
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)
