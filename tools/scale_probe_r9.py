"""Round-9 dedup-family scale probe (r8 verdict task #5): run
minhash_lsh_pairs and simhash_pairs against a ~1M-doc synthetic
corpus (200x the sf0.1 documents table) and record wall time AND
shuffle bytes, converting docs/SCALE.md's "signature-only shuffle"
claim into a measured number.

Corpus design: unlike the r8 probe's shifted-copy corpora (deliberate
pathological duplicate mass for worst-case pair growth), this corpus
has a REALISTIC duplicate rate — every doc is ~40 words drawn
deterministically from a 5k-word vocab by xxhash64(id, pos), and 5%
of docs are near-copies of their predecessor (2 of 40 words changed,
Jaccard ~0.9) — so the probe measures throughput at scale, not
quadratic blowup under 100% duplication. Generation is pure JVM
expressions (no Python in the data path).

Shuffle bytes come from the Spark UI REST API (/api/v1): the sum of
shuffle write bytes over the stages each operator ran, isolated by
snapshotting completed-stage totals before/after. The key scale claim
under test: the LSH bucket join and the pigeonhole chunk join shuffle
signatures and ids only, never document bodies — so shuffle volume
should sit far below corpus text volume.

Usage: python tools/scale_probe_r9.py [n_docs] [reps]
"""

import json
import sys
import time
import urllib.request

sys.path.insert(0, ".")

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def synth_docs(spark, n_docs: int, vocab: int = 5000, words: int = 40):
    """Deterministic ~n_docs synthetic corpus with a 5% near-dup rate,
    generated JVM-side. Docs with id % 20 == 1 reuse id-1's word
    sequence except positions 38/39 (Jaccard ~ 38/42 ~ 0.90)."""
    base = F.when(F.col("doc_id") % 20 == 1, F.col("doc_id") - 1).otherwise(
        F.col("doc_id"))
    word_cols = []
    for j in range(words):
        src = F.col("doc_id") if j >= words - 2 else base
        # near-dups draw their last two words from their OWN id
        widx = F.pmod(F.xxhash64(src, F.lit(j)), F.lit(vocab))
        word_cols.append(F.concat(F.lit("w"), widx.cast("string")))
    return (
        spark.range(n_docs, numPartitions=64)
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", F.concat_ws(" ", *word_cols).alias("text"))
    )


def _rest(url):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


def shuffle_totals(spark):
    """(shuffle_write_bytes, shuffle_read_bytes) summed over all
    COMPLETE stages so far, via the UI REST API; (None, None) if the
    UI is unreachable."""
    try:
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        stages = _rest(f"{ui}/api/v1/applications/{app}/stages?status=complete")
        w = sum(s.get("shuffleWriteBytes", 0) for s in stages)
        r = sum(s.get("shuffleReadBytes", 0) for s in stages)
        return w, r
    except Exception as exc:  # UI disabled / port clash: degrade to wall-only
        print(f"  (shuffle bytes unavailable: {exc})")
        return None, None


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    from biosets_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs
    from biosets_spark.session import get_spark

    spark = get_spark("scale-probe-r9", extra_conf={
        "spark.driver.memory": "48g",
        "spark.sql.shuffle.partitions": "64",
        # the session default disables the UI; the probe needs its REST
        # API for per-stage shuffle byte totals
        "spark.ui.enabled": "true",
    })

    # Materialize to parquet and read back: a spark.range-generated
    # frame carries RangePartitioning on the id, so per-doc aggregates
    # (simhash votes, minhash signatures) would run exchange-free — a
    # partitioning no parquet-read corpus has. The probe must measure
    # the real read-from-storage plan shape.
    import os
    docs_path = f"/tmp/probe_r9_docs_{n_docs}.parquet"
    if not os.path.exists(docs_path):
        synth_docs(spark, n_docs).write.parquet(docs_path)
    docs = spark.read.parquet(docs_path).persist()
    n = docs.count()
    text_bytes = docs.select(
        F.sum(F.length("text")).alias("b")).collect()[0]["b"]
    expected_pairs = sum(1 for i in range(n_docs) if i % 20 == 1)
    print(f"corpus: {n} docs, {text_bytes / 1e6:.0f} MB text, "
          f"~{expected_pairs} planted near-dup pairs")

    ops = {
        "minhash_lsh_pairs": lambda d: minhash_lsh_pairs(
            d, num_perm=32, bands=16, threshold=0.5),
        "simhash_pairs": lambda d: simhash_pairs(
            d, max_hamming=3, shingle_n=2),
    }
    print(f"{'operator':22} {'wall_s':>8} {'pairs':>9} {'planted%':>9} "
          f"{'shufW_MB':>9} {'shufR_MB':>9} {'shufW/text':>10}")
    from biosets_spark import release_pinned_indexes

    for name, fn in ops.items():
        best, pairs, sw, sr = float("inf"), None, None, None
        for rep in range(reps):
            # warm reps would reuse the operators' pinned shingle/
            # signature caches (CacheManager plan-match) and report a
            # misleading 0-byte shuffle — release between reps so each
            # rep measures the full cold plan
            release_pinned_indexes()
            w0, r0 = shuffle_totals(spark)
            t0 = time.time()
            out = fn(docs)
            pairs = out.count()
            dt = time.time() - t0
            w1, r1 = shuffle_totals(spark)
            if rep == 0 and w0 is not None and w1 is not None:
                sw, sr = w1 - w0, r1 - r0
            best = min(best, dt)
        # planted near-dups found (id pairs (k-1, k) with k%20==1)
        found = fn(docs).filter(
            (F.col("id_b") - F.col("id_a") == 1)
            & (F.col("id_b") % 20 == 1)).count() if pairs else 0
        planted_pct = 100.0 * found / max(expected_pairs, 1)
        swm = f"{sw / 1e6:9.1f}" if sw is not None else "      n/a"
        srm = f"{sr / 1e6:9.1f}" if sr is not None else "      n/a"
        ratio = f"{sw / text_bytes:10.2f}" if sw is not None else "       n/a"
        print(f"{name:22} {best:8.1f} {pairs:9d} {planted_pct:8.1f}% "
              f"{swm} {srm} {ratio}")
    spark.stop()  # non-daemon JVM threads otherwise keep the process alive


if __name__ == "__main__":
    main()
