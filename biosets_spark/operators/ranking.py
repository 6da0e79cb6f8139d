"""Scale-safe exact ranking: two-level prefix sums over a
distinct-value histogram.

A plain rank/percent_rank window `PARTITION BY g ORDER BY v` funnels
every row of a group through ONE task — with a low-cardinality
partition key (5 market segments, 3 order statuses) that is a
single-task sort of the whole table, the classic 100 TB window
killer (documented at q_percent_rank, queries/wave10.py).

This helper computes exact midranks without any global or
whole-group window:

1. collapse rows to a (group, value, bucket) histogram — a
   combinable aggregate, map-side partial;
2. in-bucket cumulative counts via a window partitioned by
   (group, bucket) — each task sees one value-range slice, so
   parallelism = #buckets, not #groups;
3. bucket base offsets via a window over the small per-(group,
   bucket) count table, joined back on (group, bucket). No explicit
   broadcast hint: for the low-cardinality-group regimes this helper
   targets the offset table is tiny and AQE broadcasts it at runtime,
   while in a high-cardinality groups*buckets regime a forced
   broadcast would exceed driver limits — AQE's size-based choice is
   the 100 TB-safe one (r5 ADVICE fix).

midrank(v) = rank_lt(v) + (cnt(v) + 1) / 2; to stay integer-exact we
return the DOUBLED midrank `mr2 = 2*(cum_lt) + cnt + 1` so rank sums
accumulate in DECIMAL with no halves. Used by q_mann_whitney
(queries/wave34.py), q_auc_roc (queries/wave40.py) and
q_spearman_corr's rank maps; it is the named scale path for exact
ranks over skewed/low-cardinality partitions wherever a rank window
would serialize a group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..scope import origin


@origin("doubled_midranks")
def doubled_midranks(
    hist: DataFrame,
    group_cols: list[str],
    value_col: str = "v",
    bucket_col: str = "bkt",
    count_col: str = "nt",
) -> DataFrame:
    """Add `mr2` (= 2 * midrank, an exact odd/even integer) to a
    distinct-value histogram.

    ``hist`` must have one row per (group, value) with ``count_col``
    occurrences and a ``bucket_col`` that is monotone in ``value_col``
    (e.g. ``floor(v / width)``) — bucket boundaries split the value
    range, so in-bucket ranks + bucket offsets compose to exact global
    per-group ranks. All other histogram columns pass through.
    """
    w_in = (
        Window.partitionBy(*group_cols, bucket_col).orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    in_bkt = hist.withColumn(
        "_cum_in", F.coalesce(F.sum(count_col).over(w_in), F.lit(0))
    )
    w_off = (
        Window.partitionBy(*group_cols).orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bkt_off = (
        hist.groupBy(*group_cols, bucket_col)
        .agg(F.sum(count_col).alias("_bn"))
        .withColumn("_off", F.coalesce(F.sum("_bn").over(w_off), F.lit(0)))
        .select(*group_cols, bucket_col, "_off")
    )
    return (
        in_bkt.join(bkt_off, [*group_cols, bucket_col])
        .withColumn(
            "mr2", 2 * (col("_cum_in") + col("_off")) + col(count_col) + 1
        )
        .drop("_cum_in", "_off")
    )
