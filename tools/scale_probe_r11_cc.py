"""Round-11 connected-components scale probe: the star-contraction
default (graph.py:_star_contraction) on graphs the min-label path
cannot survive, at edge counts well above the 100k union-find
threshold.

Graphs:
- "stars": 1M edges in 200k 6-node star components (the near-dup
  detector shape, diameter 2) — both algorithms converge fast; this
  measures the per-round constant of the new default vs min-label.
- "chain+cliques": a 200k-node PATH (diameter 200k — min-label would
  need 200k rounds; it gets 30 and must raise) unioned with 800k
  clique edges — star contraction must converge the whole thing in
  O(log n) rounds and label every chain node 0.

Usage: python tools/scale_probe_r11_cc.py [n_edges]
"""

import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402


def star_graph(spark, n_edges):
    # component c = nodes {7c, 7c+1..7c+5}; edge i connects hub to spoke
    hub = F.floor(F.col("id") / 5) * 7
    return spark.range(n_edges, numPartitions=32).select(
        hub.cast("long").alias("id_a"),
        (hub + 1 + F.col("id") % 5).cast("long").alias("id_b"))


def chain_plus_cliques(spark, chain_n, clique_edges):
    chain = spark.range(chain_n - 1, numPartitions=32).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    # cliques of 5 nodes far above the chain id range
    grp = F.floor(F.col("id") / 10) * 5
    cl = spark.range(clique_edges, numPartitions=32).select(
        (F.lit(10_000_000) + grp + F.col("id") % 10 % 5).cast("long").alias("id_a"),
        (F.lit(10_000_000) + grp + (F.col("id") % 10 + 1 + F.col("id") % 4) % 5).cast("long").alias("id_b"))
    return chain.unionByName(cl).filter(F.col("id_a") != F.col("id_b"))


def main():
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000

    from biosets_spark import release_pinned_indexes
    from biosets_spark.operators.graph import connected_components
    from biosets_spark.session import get_spark
    spark = get_spark("scale-probe-r11-cc")
    spark.sparkContext.setLogLevel("ERROR")

    g = star_graph(spark, n_edges).cache()
    print(f"stars graph: {g.count()} edges", flush=True)
    for algo in ("star", "label"):
        t0 = time.monotonic()
        comp = connected_components(g, small_graph_threshold=0,
                                    algorithm=algo, max_iterations=30)
        n_comp = comp.select("component").distinct().count()
        print(f"stars {algo:5}: {time.monotonic()-t0:6.1f}s "
              f"components={n_comp}", flush=True)
        release_pinned_indexes()
    g.unpersist()

    g2 = chain_plus_cliques(spark, 200_000, n_edges - 200_000).cache()
    print(f"chain+cliques graph: {g2.count()} edges", flush=True)
    t0 = time.monotonic()
    comp = connected_components(g2, small_graph_threshold=0,
                                algorithm="star", max_iterations=40)
    chain_bad = comp.filter((F.col("node") < 200_000)
                            & (F.col("component") != 0)).count()
    n_comp = comp.select("component").distinct().count()
    print(f"chain+cliques star: {time.monotonic()-t0:6.1f}s "
          f"components={n_comp} chain_mislabels={chain_bad}", flush=True)
    release_pinned_indexes()
    try:
        connected_components(g2, small_graph_threshold=0,
                             algorithm="label", max_iterations=30)
        print("label path unexpectedly converged", flush=True)
    except RuntimeError as e:
        print(f"label path (expected): {type(e).__name__}: "
              f"{str(e)[:80]}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
