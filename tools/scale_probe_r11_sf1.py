"""Round-11 sf1 validation: the 6 BASELINE anchors + the 10 slowest
inventory queries timed at sf0.1 and at the synthetic sf1
(tools/make_sf1.py, 10x rows with referential-integrity-preserving
key offsets), recording wall and shuffle-read growth. Purpose: every
prior scale probe was operator-level; this times the ACTUAL bench
plans to confirm near-linear scaling — a super-linear query indicates
a plan that breaks at 100x.

Expectations: wall ratio ~<= 10 for scan/agg/join-bound plans
(sub-linear is common: fixed overheads amortize); dedup-family ratios
reflect the 10-member exact-duplicate groups the sf1 construction
plants (pair mass grows ~45x per group — documented, not a plan
defect; the LSH bucket cap bounds the per-task cost).

Usage: python tools/scale_probe_r11_sf1.py [sf1_dir]
"""

import json
import sys
import time
import urllib.request

sys.path.insert(0, ".")

ANCHORS = ["q_pricing_summary", "q_join_agg", "q_top_orders",
           "q_dedup_minhash_lsh", "q_knn_pairs", "q_events_sessions"]
SLOWEST = ["q_pipeline_clean_corpus", "q_dedup_simhash", "q_dedup_clusters",
           "q_pipeline_curated_corpus", "q_pca_power", "q_mann_whitney",
           "q_pagerank_nations", "q_triangle_count", "q_dedup_semantic",
           "q_dedup_ngram_jaccard"]


def _rest(url):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


def shuffle_read(spark):
    try:
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        stages = _rest(f"{ui}/api/v1/applications/{app}/stages?status=complete")
        return sum(s.get("shuffleReadBytes", 0) for s in stages)
    except Exception:
        return None


def main():
    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"

    from biosets_spark import queries as _q
    from biosets_spark import release_pinned_indexes
    from biosets_spark.session import get_spark

    spark = get_spark("scale-probe-r11-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM / python worker pool
    spark.range(0, 1024, 1, 32).mapInPandas(lambda it: it, "id long").count()

    results = {}
    for name in ANCHORS + SLOWEST:
        fn = _q.QUERIES[name].fn
        row = {}
        for label, d in (("sf0.1", "/root/testdata/sf0.1"), ("sf1", sf1_dir)):
            s0 = shuffle_read(spark)
            t0 = time.monotonic()
            n = fn(spark, d).count()
            wall = time.monotonic() - t0
            s1 = shuffle_read(spark)
            sh = (s1 - s0) / 1e6 if (s0 is not None and s1 is not None) else None
            row[label] = (wall, n, sh)
            release_pinned_indexes()
            spark.catalog.clearCache()
        r = row["sf1"][0] / row["sf0.1"][0]
        sh01 = f"{row['sf0.1'][2]:.0f}MB" if row["sf0.1"][2] is not None else "?"
        sh1 = f"{row['sf1'][2]:.0f}MB" if row["sf1"][2] is not None else "?"
        print(f"{name:28} sf0.1={row['sf0.1'][0]:6.2f}s ({sh01:>8}) "
              f"sf1={row['sf1'][0]:7.2f}s ({sh1:>8}) ratio={r:5.1f} "
              f"rows {row['sf0.1'][1]} -> {row['sf1'][1]}", flush=True)
        results[name] = r
    lin = [n for n, r in results.items() if r <= 12]
    print(f"\n{len(lin)}/{len(results)} queries scale at <=12x wall for 10x data")
    spark.stop()


if __name__ == "__main__":
    main()
