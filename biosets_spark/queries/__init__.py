"""Query inventory: every operator family from SURVEY.md §2 expressed
as a (Spark DataFrame query, DuckDB oracle SQL) pair over the driver's
test tables.

Determinism rules (so the value-hash matches across engines):
- money/double aggregates go through DECIMAL casts, then cast back to
  DOUBLE: decimal summation is exact, so the result is the identical
  double in both engines regardless of accumulation order;
- LIMIT/top-k queries use a total ordering (tie-broken on a unique
  key) so the selected row set is engine-independent;
- timestamps are output as formatted strings or dates (never raw
  timestamps) to sidestep ns/us precision and timezone marshaling;
- every computed column is aliased identically on both sides;
- do NOT apply a final ROUND to a double QUOTIENT (or any derived
  double): when the value lands on a half boundary, Spark rounds the
  shortest decimal repr (BigDecimal.valueOf, HALF_UP) while DuckDB
  rounds the binary value — they disagree (hit for real at sf0.1,
  q_label_centroids r8: 0.003213 vs 0.003214). An exact-decimal sum
  cast to double and divided is already bit-identical across engines
  (IEEE division is deterministic), and the harness canonicalizes
  floats to 10 significant digits — emit the raw quotient. ROUND is
  safe only on values that are exact decimals by construction.

Scale notes are per-query docstrings: each query is written the way it
should run on a 1000-executor cluster (broadcast dims, partial aggs,
pushed-down filters), not just the way that passes at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col, lit

from .. import tables
from ..oracle_fragments import REV_SQL
from ..operators import labels as L
from ..scope import origin


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    desc: str = ""
    tags: list[str] = field(default_factory=list)


QUERIES: dict[str, Query] = {}


def q(name: str, oracle: str | None = None, desc: str = "", tags: list[str] | None = None):
    def deco(fn):
        if name in QUERIES:
            # ~330 names over ~100 wave files: a reused name would
            # silently REPLACE the earlier query and its oracle,
            # removing it from bench and the correctness gate
            raise ValueError(f"duplicate query registration: {name!r}")
        # the build runs inside an error-origin scope named after the
        # query, so a runtime error names it (scope.origin)
        QUERIES[name] = Query(fn=origin(name)(fn), oracle=oracle, desc=desc, tags=tags or [])
        return fn

    return deco


def dsum(c: Column | str, alias: str, prec: str = "decimal(18,2)") -> Column:
    """Exact (order-independent) double sum via decimal accumulation."""
    c = col(c) if isinstance(c, str) else c
    return F.sum(c.cast(prec)).cast("double").alias(alias)


def dfloor(c: Column) -> Column:
    """FLOOR with DuckDB's double semantics at every magnitude.

    Spark's floor(double) returns LONG — it overflows past 2^63,
    where DuckDB's FLOOR stays in double. Above 2^52 a double is
    already integral (ulp >= 1), so passing it through IS the floor;
    below that the long round-trip is exact. Used by the r9
    engine-identical quantizer grid FLOOR(x*10^k + 0.5) / 10^k, which
    replaced every ROUND over a derived double (ROUND-then-DECIMAL
    double-rounds differently in DuckDB than Spark's BigDecimal
    HALF_UP; FLOOR over identical IEEE doubles cannot disagree)."""
    return F.when(F.abs(c) < F.lit(4503599627370496.0),
                  F.floor(c).cast("double")).otherwise(c)


def pair_expand(baskets, items_col: str, a_name: str, b_name: str):
    """C(k,2) ordered-pair expansion of a SORTED array column: every
    (a, b) with a earlier in the array than b, one output row each.

    Shape: posexplode picks each element as ``a`` with its position,
    then explode(slice(items, pos + 2, size)) emits every later
    element as ``b``. Both steps are Generate operators, so the whole
    expansion stays inside whole-stage codegen. The equivalent
    ``flatten(transform(items, (x, i) -> transform(slice(...), ...)))``
    single-explode form is a HigherOrderFunction, which Spark always
    evaluates INTERPRETED — measured on the 20x probe corpus (12M fact
    rows) the interpreted form costs ~1260 executor-CPU-seconds on
    first execution vs ~180 once C2 has compiled the interpreter hot
    paths, while this form runs compiled from the first task (cold
    20x: 74 s -> 40 s; sf0.1 first-run: 1.87 s -> 1.29 s, identical
    results). Fan-out per input row is C(k,2) with k = array length —
    the same skew bound as the fact-fact self-join it replaces, minus
    one full exchange+sort of the fact table.
    """
    pos = "_pair_pos"
    a = baskets.select(items_col, F.posexplode(items_col).alias(pos, a_name))
    return a.select(
        a_name,
        F.explode(
            F.slice(col(items_col), col(pos) + F.lit(2), F.size(items_col))
        ).alias(b_name),
    )


# =====================================================================
# §2.1/§2.2 scans, filters, projections
# =====================================================================

@q(
    "q_scan_filter_project",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part WHERE p_size = 15 AND p_type = 'STANDARD'
    """,
    desc="P1/P6: projection + filter; both reach the parquet scan "
         "(PushedFilters + 3-column ReadSchema at 100 TB).",
    tags=["scan", "filter", "projection"],
)
def q_scan_filter_project(spark, sf_dir):
    part = tables.load(spark, sf_dir, "part")
    return (
        part.filter((col("p_size") == 15) & (col("p_type") == "STANDARD"))
        .select("p_partkey", "p_name", "p_retailprice")
    )


@q(
    "q_cast_project",
    # double->bigint semantics DIVERGE between engines (Spark truncates
    # toward zero, DuckDB rounds half-away); trunc() first pins ONE
    # semantic so parity doesn't silently depend on the test data
    # keeping l_quantity integral. Spark's plain cast IS truncation, so
    # the Spark side needs no change and values are identical today.
    oracle="""
    SELECT l_orderkey, CAST(trunc(l_quantity) AS BIGINT) AS qty_int,
           CAST(l_linenumber AS VARCHAR) AS line_str
    FROM lineitem WHERE l_orderkey < 100
    """,
    desc="P10: physical casts (double->bigint, int->string).",
    tags=["cast"],
)
def q_cast_project(spark, sf_dir):
    li = tables.load(spark, sf_dir, "lineitem")
    return li.filter(col("l_orderkey") < 100).select(
        "l_orderkey",
        col("l_quantity").cast("bigint").alias("qty_int"),
        col("l_linenumber").cast("string").alias("line_str"),
    )


# =====================================================================
# §2.5 aggregations
# =====================================================================

@q(
    "q_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({REV_SQL}) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    desc="TPC-H Q1 shape: hash agg with partial (map-side) combine; "
         "the only shuffle carries 6 groups.",
    tags=["agg", "groupby"],
)
def q_pricing_summary(spark, sf_dir):
    li = tables.load(spark, sf_dir, "lineitem")
    disc = col("l_extendedprice").cast("decimal(12,2)") * (lit(1) - col("l_discount").cast("decimal(12,2)"))
    return (
        li.filter(col("l_shipdate") <= F.expr("timestamp'1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


@q(
    "q_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
    """,
    desc="TPC-H Q6 shape: pure scan-side filters -> single-row agg; "
         "everything pushes to parquet row groups.",
    tags=["agg", "filter"],
)
def q_forecast_revenue(spark, sf_dir):
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (col("l_shipdate") >= F.expr("timestamp'1997-01-01 00:00:00'"))
            & (col("l_shipdate") < F.expr("timestamp'1998-01-01 00:00:00'"))
            & col("l_discount").between(0.02, 0.06)
            & (col("l_quantity") < 24)
        )
        .agg(
            F.sum(col("l_extendedprice").cast("decimal(12,2)") * col("l_discount").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@q(
    "q_distinct_agg",
    oracle="""
    SELECT c_mktsegment,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
           CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
           CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal
    FROM customer GROUP BY c_mktsegment
    """,
    desc="A5/agg surface: count_distinct (expand+partial agg), min/max "
         "are exact on doubles.",
    tags=["agg", "distinct"],
)
def q_distinct_agg(spark, sf_dir):
    c = tables.load(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count("*").alias("n_customers"),
        dsum("c_acctbal", "sum_bal"),
        F.min("c_acctbal").cast("double").alias("min_bal"),
        F.max("c_acctbal").cast("double").alias("max_bal"),
    )


@q(
    "q_rollup",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    desc="grouping sets/rollup: partial agg expands grouping ids; dims broadcast.",
    tags=["agg", "rollup"],
)
def q_rollup(spark, sf_dir):
    c = tables.load(spark, sf_dir, "customer")
    n = tables.load(spark, sf_dir, "nation")
    r = tables.load(spark, sf_dir, "region")
    return (
        c.join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@q(
    "q_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    desc="cube over two low-cardinality dims.",
    tags=["agg", "cube"],
)
def q_cube(spark, sf_dir):
    o = tables.load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))


@q(
    "q_quantiles",
    oracle="""
    SELECT o_orderpriority,
           (quantile_cont(o_totalprice, 0.5)) AS median_price,
           (quantile_cont(o_totalprice, 0.9)) AS p90_price,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
    desc="exact interpolated percentiles (sort-based agg); rounded to "
         "2dp to absorb interpolation ulp differences.",
    tags=["agg", "percentile"],
)
def q_quantiles(spark, sf_dir):
    o = tables.load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        (F.expr("percentile(o_totalprice, 0.5)")).alias("median_price"),
        (F.expr("percentile(o_totalprice, 0.9)")).alias("p90_price"),
        F.count("*").alias("n"),
    )


# =====================================================================
# §2.3 joins
# =====================================================================

@q(
    "q_join_agg",
    oracle=f"""
    SELECT n_name,
           CAST(SUM({REV_SQL}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    desc="TPC-H Q5 shape: 6-way join. nation/region/supplier broadcast; "
         "customer<->orders<->lineitem co-partition on keys via AQE/SMJ.",
    tags=["join", "agg"],
)
def q_join_agg(spark, sf_dir):
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    s = tables.load(spark, sf_dir, "supplier")
    n = tables.load(spark, sf_dir, "nation")
    r = tables.load(spark, sf_dir, "region")
    rev = col("l_extendedprice").cast("decimal(12,2)") * (lit(1) - col("l_discount").cast("decimal(12,2)"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, col("l_orderkey") == col("o_orderkey"))
        .join(broadcast(s), (col("l_suppkey") == col("s_suppkey")) & (col("c_nationkey") == col("s_nationkey")))
        .join(broadcast(n), col("c_nationkey") == col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") == col("r_regionkey"))
        .filter(col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count("*").alias("n_lines"))
    )


@q(
    "q_top_orders",
    oracle=f"""
    SELECT o_orderkey,
           CAST(SUM({REV_SQL}) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    desc="TPC-H Q3 shape: join + agg + deterministic top-k "
         "(TakeOrderedAndProject — no global sort materialization).",
    tags=["join", "agg", "topk"],
)
def q_top_orders(spark, sf_dir):
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    rev = col("l_extendedprice").cast("decimal(12,2)") * (lit(1) - col("l_discount").cast("decimal(12,2)"))
    return (
        c.filter(col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .filter(col("o_orderdate") < F.expr("timestamp'1998-01-01 00:00:00'"))
        .join(li, col("l_orderkey") == col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .withColumn("order_date", F.date_format("o_orderdate", "yyyy-MM-dd"))
        .select("o_orderkey", "revenue", "order_date")
        .orderBy(col("revenue").desc(), col("o_orderkey"))
        .limit(10)
    )


@q(
    "q_left_join_histogram",
    oracle="""
    WITH per_order AS (
      SELECT o_orderkey, COUNT(l_orderkey) AS n_lines
      FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY o_orderkey
    )
    SELECT n_lines, COUNT(*) AS n_orders FROM per_order GROUP BY n_lines
    """,
    desc="J3 left outer join; COUNT(col) counts only matched rows.",
    tags=["join", "left"],
)
def q_left_join_histogram(spark, sf_dir):
    o = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    per_order = (
        o.join(li, col("l_orderkey") == col("o_orderkey"), "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("n_lines"))
    )
    return per_order.groupBy("n_lines").agg(F.count("*").alias("n_orders"))


@q(
    "q_semi_join",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    GROUP BY c_nationkey
    """,
    desc="J3 left semi join (EXISTS): no row duplication, no payload "
         "columns shuffled from the probe side.",
    tags=["join", "semi"],
)
def q_semi_join(spark, sf_dir):
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders")
    from ..operators.joins import join as bjoin

    open_orders = o.filter(col("o_orderstatus") == "O")
    hits = bjoin(c, open_orders, keys=["c_custkey"], right_keys=["o_custkey"], join_type="left semi")
    return hits.groupBy("c_nationkey").agg(F.count("*").alias("n_customers"))


@q(
    "q_anti_join",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_nationkey
    """,
    desc="J3 left anti join (NOT EXISTS).",
    tags=["join", "anti"],
)
def q_anti_join(spark, sf_dir):
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders")
    from ..operators.joins import join as bjoin

    misses = bjoin(c, o, keys=["c_custkey"], right_keys=["o_custkey"], join_type="left anti")
    return misses.groupBy("c_nationkey").agg(F.count("*").alias("n_customers"))


@q(
    "q_full_outer",
    oracle="""
    WITH cc AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1),
         ss AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT COALESCE(cc.nk, ss.nk) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
    FROM cc FULL OUTER JOIN ss ON cc.nk = ss.nk
    """,
    desc="J3 full outer join with key coalescing.",
    tags=["join", "full"],
)
def q_full_outer(spark, sf_dir):
    c = tables.load(spark, sf_dir, "customer")
    s = tables.load(spark, sf_dir, "supplier")
    cc = c.groupBy(col("c_nationkey").alias("nk")).agg(F.count("*").alias("n_cust"))
    ss = s.groupBy(col("s_nationkey").alias("nk")).agg(F.count("*").alias("n_supp"))
    return (
        cc.join(ss, on="nk", how="full")
        .select(
            col("nk").alias("nationkey"),
            F.coalesce("n_cust", lit(0)).alias("n_cust"),
            F.coalesce("n_supp", lit(0)).alias("n_supp"),
        )
    )


@q(
    "q_meta_left_join",
    oracle="""
    SELECT o_orderkey, c_name, c_mktsegment, o_orderstatus,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey < 200
    """,
    desc="J1 sample-metadata enrichment on TPC-H proxies: orders=data "
         "keyed by o_custkey, customer=metadata. Metadata side broadcast.",
    tags=["join", "metadata", "loader"],
)
def q_meta_left_join(spark, sf_dir):
    o = tables.load(spark, sf_dir, "orders")
    c = tables.load(spark, sf_dir, "customer")
    from ..operators.joins import join_sample_metadata

    meta = c.select(col("c_custkey").alias("o_custkey"), "c_name", "c_mktsegment")
    joined = join_sample_metadata(o, meta, "o_custkey")
    return joined.filter(col("o_orderkey") < 200).select(
        "o_orderkey", "c_name", "c_mktsegment", "o_orderstatus", col("o_totalprice").cast("double").alias("o_totalprice")
    )


# =====================================================================
# §2.4 set ops / concat
# =====================================================================

@q(
    "q_set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
    desc="set op: INTERSECT (distinct).",
    tags=["setop"],
)
def q_set_intersect(spark, sf_dir):
    c = tables.load(spark, sf_dir, "customer")
    s = tables.load(spark, sf_dir, "supplier")
    return c.select(col("c_nationkey").alias("nationkey")).intersect(s.select(col("s_nationkey").alias("nationkey")))


@q(
    "q_set_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
    desc="set op: EXCEPT (distinct).",
    tags=["setop"],
)
def q_set_except(spark, sf_dir):
    c = tables.load(spark, sf_dir, "customer")
    s = tables.load(spark, sf_dir, "supplier")
    return c.select(col("c_nationkey").alias("nationkey")).subtract(s.select(col("s_nationkey").alias("nationkey")))


@q(
    "q_union_promote",
    oracle="""
    WITH u AS (
      SELECT 'lineitem' AS src, l_orderkey AS okey, CAST(l_extendedprice AS DECIMAL(18,2)) AS amount FROM lineitem
      UNION ALL
      SELECT 'orders' AS src, o_orderkey AS okey, CAST(o_totalprice AS DECIMAL(18,2)) AS amount FROM orders
    )
    SELECT src, COUNT(*) AS n, CAST(SUM(amount) AS DOUBLE) AS total
    FROM u GROUP BY src
    """,
    desc="C1 vertical concat with schema promotion (union_promote: "
         "lattice casts folded into each scan, then unionByName).",
    tags=["concat", "union"],
)
def q_union_promote(spark, sf_dir):
    from ..schema.lattice import union_promote

    li = tables.load(spark, sf_dir, "lineitem").select(
        lit("lineitem").alias("src"),
        col("l_orderkey").alias("okey"),
        col("l_extendedprice").cast("decimal(18,2)").alias("amount"),
    )
    o = tables.load(spark, sf_dir, "orders").select(
        lit("orders").alias("src"),
        col("o_orderkey").alias("okey"),
        col("o_totalprice").cast("decimal(18,2)").alias("amount"),
    )
    return union_promote([li, o]).groupBy("src").agg(
        F.count("*").alias("n"), F.sum("amount").cast("double").alias("total")
    )


# =====================================================================
# §2.8 windows
# =====================================================================

@q(
    "q_window_topk_per_group",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM ranked WHERE rn <= 3
    """,
    desc="row_number window: top-3 orders per customer; single shuffle "
         "on o_custkey, rank filter pushes as WindowGroupLimit.",
    tags=["window", "rank"],
)
def q_window_topk_per_group(spark, sf_dir):
    o = tables.load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc(), col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", col("o_totalprice").cast("double").alias("o_totalprice"), "rn")
    )


@q(
    "q_window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
    FROM orders WHERE o_custkey < 50
    """,
    desc="running-frame window agg (decimal accumulation for exactness).",
    tags=["window", "frame"],
)
def q_window_running_sum(spark, sf_dir):
    o = tables.load(spark, sf_dir, "orders").filter(col("o_custkey") < 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("running_total"),
    )


@q(
    "q_window_lag_gap",
    oracle="""
    WITH gaps AS (
      SELECT o_custkey,
             date_diff('day',
                       LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                       o_orderdate) AS gap_days
      FROM orders
    )
    SELECT o_custkey, COUNT(gap_days) AS n_gaps,
           CAST(SUM(gap_days) AS BIGINT) AS total_gap_days, MAX(gap_days) AS max_gap_days
    FROM gaps WHERE o_custkey < 100 GROUP BY o_custkey
    """,
    desc="lag window: per-customer inter-order gaps in days.",
    tags=["window", "lag"],
)
def q_window_lag_gap(spark, sf_dir):
    o = tables.load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.withColumn("gap_days", F.datediff(col("o_orderdate"), F.lag("o_orderdate").over(w)))
    return (
        gaps.filter(col("o_custkey") < 100)
        .groupBy("o_custkey")
        .agg(
            F.count("gap_days").alias("n_gaps"),
            F.sum("gap_days").cast("bigint").alias("total_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
    )


@q(
    "q_ntile_kfold",
    oracle="""
    SELECT fold, COUNT(*) AS n, MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
    FROM (SELECT o_orderkey, NTILE(10) OVER (ORDER BY o_orderkey) AS fold FROM orders)
    GROUP BY fold
    """,
    desc="O4 k-fold assignment with NTILE semantics — computed from a "
         "JVM-side row index over a range-partitioned sort instead of "
         "an empty-partition-spec window (which would funnel the whole "
         "table through one task).",
    tags=["window", "split"],
)
def q_ntile_kfold(spark, sf_dir):
    from ..operators.split import kfold_assign

    o = tables.load(spark, sf_dir, "orders")
    return (
        kfold_assign(o.select("o_orderkey"), 10, order_by=["o_orderkey"], fold_col="fold")
        .groupBy("fold")
        .agg(F.count("*").alias("n"), F.min("o_orderkey").alias("min_key"), F.max("o_orderkey").alias("max_key"))
    )


# =====================================================================
# §2.7 scalar functions (string / date / math / JSON / array)
# =====================================================================

@q(
    "q_string_funcs",
    oracle="""
    SELECT c_custkey,
           upper(substr(c_name, 1, 8)) AS name_prefix,
           length(c_name) AS name_len,
           CAST(regexp_extract(c_name, '(\\d+)', 1) AS BIGINT) AS name_num,
           concat_ws('|', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation,
           replace(lower(c_name), 'customer', 'cust') AS shortname
    FROM customer WHERE c_custkey < 50
    """,
    desc="string surface: substr/upper/lower/length/regexp_extract/"
         "concat_ws/replace — all codegen'd JVM expressions.",
    tags=["scalar", "string"],
)
def q_string_funcs(spark, sf_dir):
    c = tables.load(spark, sf_dir, "customer")
    return c.filter(col("c_custkey") < 50).select(
        "c_custkey",
        F.upper(F.substring("c_name", 1, 8)).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.regexp_extract("c_name", r"(\d+)", 1).cast("bigint").alias("name_num"),
        F.concat_ws("|", col("c_mktsegment"), col("c_nationkey").cast("string")).alias("seg_nation"),
        F.replace(F.lower(col("c_name")), lit("customer"), lit("cust")).alias("shortname"),
    )


@q(
    "q_date_funcs",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
           COUNT(*) AS n_orders,
           CAST(MIN(strftime(o_orderdate, '%Y-%m-%d')) AS VARCHAR) AS first_day,
           CAST(MAX(strftime(o_orderdate, '%Y-%m-%d')) AS VARCHAR) AS last_day
    FROM orders GROUP BY 1, 2
    """,
    desc="date surface: year/month extraction, date formatting.",
    tags=["scalar", "date"],
)
def q_date_funcs(spark, sf_dir):
    o = tables.load(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
        )
        .groupBy("yr", "mo")
        .agg(F.count("*").alias("n_orders"), F.min("d").alias("first_day"), F.max("d").alias("last_day"))
    )


@q(
    "q_math_funcs",
    oracle="""
    SELECT l_linenumber,
           CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_floor_price,
           CAST(MAX(sqrt(l_quantity)) AS DOUBLE) AS max_sqrt_qty,
           CAST(MIN(abs(l_discount - 0.05)) AS DOUBLE) AS min_abs_disc,
           CAST(MAX(ceil(l_tax * 100)) AS BIGINT) AS max_ceil_tax_pct
    FROM lineitem GROUP BY l_linenumber
    """,
    desc="math surface: floor/ceil/abs/sqrt (all IEEE-exact on doubles).",
    tags=["scalar", "math"],
)
def q_math_funcs(spark, sf_dir):
    li = tables.load(spark, sf_dir, "lineitem")
    return li.groupBy("l_linenumber").agg(
        F.sum(F.floor("l_extendedprice").cast("bigint")).cast("bigint").alias("sum_floor_price"),
        F.max(F.sqrt("l_quantity")).cast("double").alias("max_sqrt_qty"),
        F.min(F.abs(col("l_discount") - 0.05)).cast("double").alias("min_abs_disc"),
        F.max(F.ceil(col("l_tax") * 100)).cast("bigint").alias("max_ceil_tax_pct"),
    )


@q(
    "q_json_funcs",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    desc="JSON extraction from the events.props payload (Spark side "
         "uses get_json_object; oracle mirrors via regexp to avoid "
         "DuckDB extension dependence).",
    tags=["scalar", "json"],
)
def q_json_funcs(spark, sf_dir):
    e = tables.load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).cast("bigint").alias("sum_k"),
        F.count("*").alias("n"),
    )


@q(
    "q_array_funcs",
    oracle="""
    SELECT vec_id, len(embedding) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_val,
           CAST(embedding[64] AS DOUBLE) AS last_val
    FROM embeddings WHERE vec_id < 100
    """,
    desc="array surface: size/element_at on array<float> columns.",
    tags=["scalar", "array", "vectors"],
)
def q_array_funcs(spark, sf_dir):
    e = tables.load(spark, sf_dir, "embeddings")
    return e.filter(col("vec_id") < 100).select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        F.element_at("embedding", 64).cast("double").alias("last_val"),
    )


# =====================================================================
# §2.5 label analytics (A1-A3, P11) — the reference's own agg surface
# =====================================================================

@q(
    "q_label_encode",
    oracle="""
    WITH dict AS (
      SELECT c_mktsegment AS seg,
             CAST(ROW_NUMBER() OVER (ORDER BY c_mktsegment) - 1 AS INT) AS code
      FROM (SELECT DISTINCT c_mktsegment FROM customer)
    )
    SELECT c_custkey, c_mktsegment, code AS encoded_labels
    FROM customer JOIN dict ON c_mktsegment = seg
    """,
    desc="A1+A2: sorted label dictionary -> contiguous int codes via a "
         "map-literal lookup (no join, no shuffle on the fact side).",
    tags=["labels", "loader"],
)
def q_label_encode(spark, sf_dir):
    c = tables.load(spark, sf_dir, "customer")
    encoded, _ = L.encode_labels(c, "c_mktsegment")
    return encoded.select("c_custkey", "c_mktsegment", "encoded_labels")


@q(
    "q_label_binary",
    oracle="""
    SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1
                WHEN o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW') THEN 0
                ELSE -1 END AS encoded_labels,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
    desc="A3 binary re-labeling: positive/negative label sets, "
         "neither -> -1.",
    tags=["labels"],
)
def q_label_binary(spark, sf_dir):
    o = tables.load(spark, sf_dir, "orders")
    encoded, _ = L.encode_labels(
        o, "o_orderpriority",
        positive_labels=["1-URGENT", "2-HIGH"],
        negative_labels=["4-NOT SPECIFIED", "5-LOW"],
    )
    return encoded.groupBy("encoded_labels").agg(F.count("*").alias("n"))


@q(
    "q_label_decode_roundtrip",
    oracle="""
    SELECT c_custkey, c_mktsegment AS decoded
    FROM customer WHERE c_custkey < 100
    """,
    desc="P11 decode: int codes -> strings through the pinned dictionary "
         "(roundtrip equals the original column).",
    tags=["labels"],
)
def q_label_decode_roundtrip(spark, sf_dir):
    c = tables.load(spark, sf_dir, "customer")
    encoded, labels = L.encode_labels(c, "c_mktsegment")
    decoded = encoded.withColumn("decoded", L.decode_expr(col("encoded_labels"), labels))
    return decoded.filter(col("c_custkey") < 100).select("c_custkey", "decoded")


# ---------------------------------------------------------------------------
# Registration manifest (r8 verdict task #7: one package, one manifest).
#
# Importing this package registers the FULL query inventory. ORDER IS
# LOAD-BEARING: the driver records only the first ~50 entries of
# __spark_entry__.queries(). That order comes from the committed
# CORRECTNESS files (never-checked names first, then oldest green
# round first), and registration order breaks its ties — so the
# manifest preserves the exact historical import order (base inventory
# above, then ext, more, wave3..wave105). Append new waves at the END;
# never reorder.
_MANIFEST = (
    "ext", "more", "wave3", "wave4", "wave5", "wave6", "wave7", "wave8",
    "wave9", "wave10", "wave11", "wave12", "wave13", "wave14", "wave15",
    "wave16", "wave17", "wave18", "wave19", "wave20", "wave21", "wave22",
    "wave23", "wave24", "wave25", "wave26", "wave27", "wave28", "wave29",
    "wave30", "wave31", "wave32", "wave33", "wave34", "wave35", "wave36",
    "wave37", "wave38", "wave39", "wave40", "wave41", "wave42", "wave43",
    "wave44", "wave45", "wave46", "wave47", "wave48", "wave49", "wave50",
    "wave51", "wave52", "wave53", "wave54", "wave55", "wave56", "wave57",
    "wave58", "wave59", "wave60", "wave61", "wave62", "wave63", "wave64",
    "wave65", "wave66", "wave67", "wave68", "wave69", "wave70", "wave71",
    "wave72", "wave73", "wave74", "wave75", "wave76", "wave77", "wave78",
    "wave79", "wave80", "wave81", "wave82", "wave83", "wave84", "wave85",
    "wave86", "wave87", "wave88", "wave89", "wave90", "wave91", "wave92",
    "wave93", "wave94", "wave95", "wave96", "wave97", "wave98", "wave99",
    "wave100", "wave101", "wave102", "wave103", "wave104", "wave105",
)

import importlib as _importlib  # noqa: E402

for _m in _MANIFEST:
    _importlib.import_module(f"{__name__}.{_m}")
del _importlib, _m
