"""Twenty-first-wave query inventory: graph/similarity/audit closures —
triangle counting with global clustering coefficient, a blocked
string-similarity join, a portable Bloom-filter contamination audit
(completing the audited-sketch family: CMS, HLL, MinHash, Bloom), and
a one-pass column-quality profile.

Determinism discipline (queries.py header): counts are exact integers;
the only divisions are single double ops on exact integers; min/max
strings go through typed aggregation FIRST and a canonical cast after
(decimal for money, ISO for dates); levenshtein is the classic edit
distance with identical semantics on both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col, lit

from .. import pins, tables
from ..operators.dedup import portable_hash60
from . import pair_expand, q

# Part co-occurrence graph (edges oriented low-id -> high-id, support
# >= 2): shared by q_triangle_count; the same basket self-join as
# q_basket_pairs / q_lift_rules so all three audits read one graph.
_EDGE_SQL = """
      WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      edge AS (
        SELECT a.l_partkey AS x, b.l_partkey AS y
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey HAVING COUNT(*) >= 2
      )
"""


@q(
    "q_triangle_count",
    oracle=_EDGE_SQL + """
    , deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT x AS v FROM edge UNION ALL SELECT y AS v FROM edge
      ) GROUP BY v
    ), tri AS (
      SELECT COUNT(*) AS n_tri
      FROM edge e1 JOIN edge e2 ON e1.y = e2.x
                   JOIN edge e3 ON e3.x = e1.x AND e3.y = e2.y
    ), wedge AS (
      SELECT SUM(d * (d - 1) / 2) AS n_wedges FROM deg
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edge) AS n_edges,
           CAST(n_tri AS BIGINT) AS n_triangles,
           CAST(n_wedges AS BIGINT) AS n_wedges,
           (3.0 * n_tri / n_wedges) AS clustering
    FROM tri, wedge
    """,
    desc="Triangle count + global clustering coefficient of the part "
         "co-occurrence graph (support >= 2): the community-structure "
         "audit run on any similarity/dedup graph before clustering. "
         "Edges are oriented low-id -> high-id so each triangle is "
         "enumerated exactly once by the two-hop join; the support "
         "cutoff bounds the edge list the same way the basket size "
         "bounds q_basket_pairs. At 100 TB the standard refinement is "
         "degree orientation (point each edge at the higher-degree "
         "endpoint, capping per-vertex fan-out at sqrt(|E|)); the "
         "id-orientation here keeps the oracle byte-comparable. "
         "Wedges come from the exact degree table; the coefficient is "
         "one double division of exact integers. The cross tag covers "
         "the three deliberate 1-row aggregate broadcasts at the end.",
    tags=["join", "agg", "graph", "cross"],
)
def q_triangle_count(spark, sf_dir):
    li = tables.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # basket-local edge generation (the q_basket_pairs plan): one
    # shuffle collects each order's sorted distinct item set, C(k,2)
    # ordered pairs explode JVM-side — no fact-fact self-join
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("items")
    )
    edge = (
        pair_expand(baskets, "items", "x", "y")
        .groupBy("x", "y")
        .agg(F.count("*").alias("w"))
        .filter(col("w") >= 2)
        .select("x", "y")
    )
    # Three consumers below fan out over this subtree and Catalyst does
    # not unify the aliased branches into a ReusedExchange — truncate
    # the lineage once. A lazy cache pin (the wave49 lever) was
    # A/B'd in r12 and kept OUT here: the triangle
    # self-join fans three concurrent leaf stages over the cache, which
    # race to materialize it (cold collect 1.1 -> 4.2 s, two alternating
    # rounds), costing more one-shot than the checkpoint's build-time
    # toRdd pays (~1.1 s); warm reps favored the cache, but the bench
    # adjudicates the one-shot wall.
    edge = pins.pin(edge, checkpoint=True)
    deg = (
        edge.select(col("x").alias("v")).unionAll(edge.select(col("y").alias("v")))
        .groupBy("v").agg(F.count("*").alias("d"))
    )
    e1, e2, e3 = edge.alias("e1"), edge.alias("e2"), edge.alias("e3")
    tri = (
        e1.join(e2, col("e1.y") == col("e2.x"))
        .join(e3, (col("e3.x") == col("e1.x")) & (col("e3.y") == col("e2.y")))
        .agg(F.count("*").alias("n_tri"))
    )
    wedges = deg.agg(F.sum(col("d") * (col("d") - 1) / 2).cast("long").alias("n_wedges"))
    n_edges = edge.agg(F.count("*").alias("n_edges"))
    return (
        n_edges.crossJoin(broadcast(tri)).crossJoin(broadcast(wedges))
        .select(
            "n_edges",
            col("n_tri").alias("n_triangles"),
            "n_wedges",
            (lit(3.0) * col("n_tri") / col("n_wedges")).alias("clustering"),
        )
    )


@q(
    "q_simjoin_names",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM names a JOIN names b
      ON split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
     AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 10
    ORDER BY name_a, name_b
    """,
    desc="Blocked string-similarity join: near-identical part names "
         "(edit distance <= 10) found WITHOUT the all-pairs quadratic "
         "— candidates share a blocking key (first token), so the "
         "join is an equi-join on the block with levenshtein applied "
         "only inside blocks. The fuzzy-matching shape for entity "
         "resolution at scale: the block key hash-partitions, per-"
         "block fan-out is |block| choose 2, and skewed blocks get "
         "the q_join_salted treatment. Swap the block key for a "
         "phonetic code or a q-gram prefix without changing the plan.",
    tags=["join", "text"],
)
def q_simjoin_names(spark, sf_dir):
    names = tables.load(spark, sf_dir, "part").select("p_name").distinct()
    a = names.select(col("p_name").alias("name_a"),
                     F.split(col("p_name"), " ")[0].alias("blk_a"))
    b = names.select(col("p_name").alias("name_b"),
                     F.split(col("p_name"), " ")[0].alias("blk_b"))
    return (
        a.join(b, (col("blk_a") == col("blk_b")) & (col("name_a") < col("name_b")))
        .withColumn("dist", F.levenshtein(col("name_a"), col("name_b")).cast("long"))
        .filter(col("dist") <= 10)
        .select("name_a", "name_b", "dist")
        .orderBy("name_a", "name_b")
    )


@q(
    "q_bloom_audit",
    oracle="""
    WITH d AS (
      SELECT doc_id, md5(text) AS fp, (doc_id % 10 = 0) AS is_test FROM documents
    ), hashed AS (
      SELECT doc_id, fp, is_test, i,
             (('0x' || substr(md5(CAST(i AS VARCHAR) || fp), 1, 15))::BIGINT % 4096)
               AS bucket
      FROM d CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)
    ), bloom AS (
      SELECT DISTINCT i, bucket FROM hashed WHERE is_test
    ), flagged AS (
      SELECT h.doc_id FROM hashed h JOIN bloom USING (i, bucket)
      GROUP BY h.doc_id HAVING COUNT(*) = 3
    ), members AS (
      SELECT doc_id FROM d WHERE fp IN (SELECT fp FROM d WHERE is_test)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM d WHERE is_test) AS n_test,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM flagged) AS n_flagged,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM flagged) -
             (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_false_pos
    """,
    desc="Portable Bloom-filter contamination audit (k=3 md5 hashes, "
         "m=4096 buckets, deliberately small so the one-sided error "
         "is visible): the test split's text fingerprints populate "
         "the filter, EVERY document probes it, and the flagged set "
         "is compared against exact membership — false positives are "
         "flagged-minus-members, false negatives are impossible (the "
         "property the audit proves). Completes the audited-sketch "
         "family (Count-Min, HLL, MinHash). At scale the bloom side "
         "is k distinct (hash, bucket) pairs — kilobytes broadcast — "
         "and probing is a broadcast semi-join at scan speed; this is "
         "the pre-filter that makes exact contamination joins cheap.",
    tags=["dedup", "agg", "sketch", "cross"],
)
def q_bloom_audit(spark, sf_dir):
    d = tables.load(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("fp"), (col("doc_id") % 10 == 0).alias("is_test")
    )
    d = pins.pin(d, checkpoint=True)  # four consumers below
    hashed = d.crossJoin(broadcast(
        spark.range(3).select(col("id").cast("int").alias("i"))
    )).withColumn(
        "bucket",
        F.pmod(portable_hash60(F.concat(col("i").cast("string"), col("fp"))), lit(4096)),
    )
    bloom = hashed.filter(col("is_test")).select("i", "bucket").distinct()
    flagged = (
        hashed.join(bloom, ["i", "bucket"])
        .groupBy("doc_id").agg(F.count("*").alias("k"))
        .filter(col("k") == 3)
    )
    members = d.join(
        d.filter(col("is_test")).select("fp").distinct(), "fp", "left_semi"
    )
    n = lambda df: df.agg(F.count("*").alias("n"))  # noqa: E731
    return (
        n(d).select(col("n").alias("n_docs"))
        .crossJoin(broadcast(n(d.filter(col("is_test"))).select(col("n").alias("n_test"))))
        .crossJoin(broadcast(n(flagged).select(col("n").alias("n_flagged"))))
        .crossJoin(broadcast(n(members).select(col("n").alias("n_members"))))
        .withColumn("n_false_pos", col("n_flagged") - col("n_members"))
    )


@q(
    "q_column_profile",
    oracle="""
    WITH s AS (
      SELECT COUNT(*) AS n,
             COUNT(o_orderkey) AS c1, COUNT(DISTINCT o_orderkey) AS d1,
             CAST(MIN(o_orderkey) AS VARCHAR) AS mn1, CAST(MAX(o_orderkey) AS VARCHAR) AS mx1,
             COUNT(o_custkey) AS c2, COUNT(DISTINCT o_custkey) AS d2,
             CAST(MIN(o_custkey) AS VARCHAR) AS mn2, CAST(MAX(o_custkey) AS VARCHAR) AS mx2,
             COUNT(o_totalprice) AS c3, COUNT(DISTINCT o_totalprice) AS d3,
             CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS mn3,
             CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS mx3,
             COUNT(o_orderdate) AS c4, COUNT(DISTINCT o_orderdate) AS d4,
             CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR) AS mn4,
             CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR) AS mx4,
             COUNT(o_orderpriority) AS c5, COUNT(DISTINCT o_orderpriority) AS d5,
             MIN(o_orderpriority) AS mn5, MAX(o_orderpriority) AS mx5
      FROM orders
    )
    SELECT * FROM (
      SELECT 'o_orderkey' AS col_name, CAST(n - c1 AS BIGINT) AS n_null,
             CAST(d1 AS BIGINT) AS n_distinct, mn1 AS min_s, mx1 AS max_s FROM s
      UNION ALL
      SELECT 'o_custkey', CAST(n - c2 AS BIGINT), CAST(d2 AS BIGINT), mn2, mx2 FROM s
      UNION ALL
      SELECT 'o_totalprice', CAST(n - c3 AS BIGINT), CAST(d3 AS BIGINT), mn3, mx3 FROM s
      UNION ALL
      SELECT 'o_orderdate', CAST(n - c4 AS BIGINT), CAST(d4 AS BIGINT), mn4, mx4 FROM s
      UNION ALL
      SELECT 'o_orderpriority', CAST(n - c5 AS BIGINT), CAST(d5 AS BIGINT), mn5, mx5 FROM s
    ) ORDER BY col_name
    """,
    desc="Column-quality profile of the orders table: null count, "
         "exact distinct count, and canonical min/max strings per "
         "column (typed aggregation first, canonical cast after — "
         "DECIMAL for money, ISO for dates — so both engines print "
         "identical strings). One aggregate branch PER COLUMN, "
         "unioned: a single countDistinct plans as a two-level "
         "partial-distinct aggregate (only distinct values shuffle), "
         "whereas packing five distincts into one agg forces an "
         "Expand that multiplies every row 6x before the exchange — "
         "measured 2.3 s vs 0.1 s warm at sf0.1. On columnar storage "
         "the five pruned scans read each column exactly once, the "
         "same total IO as one five-column scan. At 100 TB swap "
         "COUNT(DISTINCT) for approx_count_distinct per "
         "q_approx_distinct's audited error bound. The query twin of "
         "the BioDataset.profile() observe() API.",
    tags=["agg", "profile"],
)
def q_column_profile(spark, sf_dir):
    o = tables.load(spark, sf_dir, "orders")

    def branch(cname, mn, mx):
        return o.agg(
            F.lit(cname).alias("col_name"),
            (F.count("*") - F.count(cname)).cast("bigint").alias("n_null"),
            F.countDistinct(cname).cast("bigint").alias("n_distinct"),
            mn.alias("min_s"),
            mx.alias("max_s"),
        )

    specs = [
        ("o_custkey", F.min("o_custkey").cast("string"),
         F.max("o_custkey").cast("string")),
        ("o_orderdate", F.min(col("o_orderdate").cast("date")).cast("string"),
         F.max(col("o_orderdate").cast("date")).cast("string")),
        ("o_orderkey", F.min("o_orderkey").cast("string"),
         F.max("o_orderkey").cast("string")),
        ("o_orderpriority", F.min("o_orderpriority"), F.max("o_orderpriority")),
        ("o_totalprice", F.min("o_totalprice").cast("decimal(18,2)").cast("string"),
         F.max("o_totalprice").cast("decimal(18,2)").cast("string")),
    ]
    out = None
    for cname, mn, mx in specs:
        b = branch(cname, mn, mx)
        out = b if out is None else out.unionAll(b)
    return out.orderBy("col_name")
