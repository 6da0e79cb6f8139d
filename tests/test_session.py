"""Engine session defaults: AQE sizes cached pins by their bytes, the
Python workers import the package from any working directory, and the
pin release path frees what it pinned and raises on real failures."""

import os
import subprocess
import sys
import textwrap
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from biosets_spark import pins
from biosets_spark.operators import joins
from biosets_spark.session import apply_session_conf

CACHED_PARTITIONING = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
REPO = str(Path(__file__).resolve().parent.parent)


def test_both_session_paths_let_aqe_size_cached_pins(spark):
    assert spark.conf.get(CACHED_PARTITIONING) == "true"  # get_spark
    spark.conf.set(CACHED_PARTITIONING, "false")
    try:
        apply_session_conf(spark)
        assert spark.conf.get(CACHED_PARTITIONING) == "true"
    finally:
        spark.conf.set(CACHED_PARTITIONING, "true")


def test_small_shuffle_pin_is_coalesced_but_repartition_n_is_kept(spark):
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pin = spark.range(1000).select((F.col("id") % 97).alias("k")).distinct().cache()
    # a user-given count is kept, with or without a key (split.py's shuffle)
    fixed = [spark.range(1000).repartition(n_shuffle - 2).cache(),
             spark.range(1000).repartition(n_shuffle - 2, "id").cache()]
    try:
        assert pin.count() == 97
        assert pin.rdd.getNumPartitions() < n_shuffle
        for f in fixed:
            assert f.count() == 1000
            assert f.rdd.getNumPartitions() == n_shuffle - 2
    finally:
        for f in [pin, *fixed]:
            f.unpersist()


def test_zip_with_index_stays_contiguous_over_coalesced_range_partitions(spark):
    # a lowered minimum keeps several coalesced partitions, each a run
    # of adjacent range partitions of the sort
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    n = 2000
    try:
        df = spark.range(0, n, 1, 6).select(((F.col("id") * 7919) % n).alias("k"))
        out = joins.zip_with_index(df, order_by=["k"], col_name="idx")
        n_parts = out.rdd.getNumPartitions()
        rows = out.collect()
    finally:
        spark.conf.set(key, prev)
        pins.release()
    assert 1 < n_parts < int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert sorted((r.idx, r.k) for r in rows) == [(i, i) for i in range(n)]


def test_unpin_frees_either_kind_of_pin(spark):
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    plain = spark.range(10)
    before = set(persistent().keySet())
    pins.unpin(plain)  # no-op on a frame that is not pinned
    assert set(persistent().keySet()) == before
    cp = pins.pin(spark.range(10), checkpoint=True, eager=True)
    rdd_id = cp._jdf.queryExecution().analyzed().rdd().id()
    assert rdd_id in set(persistent().keySet())
    pins.unpin(cp)
    assert rdd_id not in set(persistent().keySet())
    cached = pins.pin(spark.range(10), eager=True)
    assert cached.storageLevel.useMemory
    assert set(persistent().keySet()) - before
    pins.unpin(cached)
    assert not cached.storageLevel.useMemory
    assert set(persistent().keySet()) - before == set()
    assert all(p is not cp and p is not cached for p in pins._PINS)


def test_release_skips_stopped_sessions_and_raises_otherwise(spark):
    pins.release()
    stopped = SimpleNamespace(sparkSession=SimpleNamespace(sparkContext=object()))
    pins._PINS.append(stopped)
    assert pins.release() == 0
    assert pins._PINS == []

    def fail():
        raise RuntimeError("unpersist failed")

    broken = SimpleNamespace(sparkSession=spark, is_cached=True, unpersist=fail)
    pins._PINS.append(broken)
    with pytest.raises(RuntimeError, match="unpersist failed"):
        pins.release()


FOREIGN_CWD_SCRIPT = textwrap.dedent("""
    import sys
    sys.path.insert(0, REPO)
    from pyspark.sql import SparkSession
    from biosets_spark.session import apply_session_conf, get_spark

    def tag(batches):
        from biosets_spark.schema import roles  # imported inside the Python worker
        for b in batches:
            yield b.assign(role=roles.ROLE_FEATURE)

    def roles_of(spark):
        rows = spark.range(0, 8, 1, 2).mapInPandas(tag, "id long, role string").collect()
        return sorted({r.role for r in rows})

    vanilla = SparkSession.builder.master("local[2]").config("spark.driver.memory", "1g") \\
        .config("spark.ui.enabled", "false").getOrCreate()
    print("apply_session_conf", roles_of(apply_session_conf(vanilla)))
    vanilla.stop()
    spark = get_spark("foreign-cwd", master="local[2]", extra_conf={"spark.driver.memory": "1g"})
    print("get_spark", roles_of(spark))
    spark.stop()
""")


def test_arrow_udf_runs_from_foreign_working_directory(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path)
    out = subprocess.run([sys.executable, "-c", FOREIGN_CWD_SCRIPT.replace("REPO", repr(REPO))],
                         cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "apply_session_conf ['feature']" in out.stdout
    assert "get_spark ['feature']" in out.stdout
