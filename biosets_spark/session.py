"""SparkSession factory tuned for the engine.

Defaults target local[N] testing, but every setting is chosen with a
multi-executor cluster in mind:

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned partition counts
  when the data is 1000x bigger.
- Cached pins sized by their bytes
  (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``): a
  ``.cache()`` pin gets AQE's coalesced partition count, as a
  ``localCheckpoint`` pin already does, instead of keeping all
  ``spark.sql.shuffle.partitions`` for every stage that reads it.
  AQE's ``parallelismFirst`` coalescing with its 1 MB minimum keeps a
  corpus-sized pin at ``defaultParallelism`` or more partitions, so
  only pins under ``defaultParallelism`` MB shrink: at bench scale the
  LSH bucket and hot-bucket tables, candidate sets and the
  connected-components edge list. Measured on the benchmark's
  decision_heavy workload (sf0.01, 4 cores): 692 tasks -> 71 tasks per
  pass, q_components_user_chains alone 499 -> 33. A user-given
  ``repartition(n)`` is never coalesced.
- Broadcast threshold raised to 32 MiB: the dimension tables of a
  star schema (region/nation/customer at 100 TB fact scale) should
  broadcast, never shuffle.
- Arrow enabled: any Pandas-UDF path transfers columnar batches, not
  pickled rows.
- Session timezone pinned to UTC so timestamp semantics are
  deterministic and match external oracles.
- A fixed cost per query cut at its two static sources: a 2048-entry
  codegen cache (``spark.sql.codegen.cache.maxEntries``), and
  PySpark's per-call call-site capture
  (``spark.python.sql.dataFrameDebugging.enabled``) off. Runtime
  errors still name where a failing expression was built, through
  ``biosets_spark.scope.origin``; see docs/SCALE.md, "Per-query fixed
  cost".
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# the directory that holds the biosets_spark package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _state_store_provider() -> str:
    """Streaming state-store provider class: RocksDB by default (the
    production choice for large state; measured 1.3-2.2x even at bench
    scale, r10 probe). The BIOSETS_SPARK_STATE_PROVIDER env var
    overrides it — the escape hatch for resuming a checkpoint written
    under the HDFS-backed provider, which RocksDB cannot adopt
    (provider class is read from the current conf at query restart,
    so switching providers is checkpoint-breaking)."""
    return os.environ.get(
        "BIOSETS_SPARK_STATE_PROVIDER",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )


def _resolve_driver_memory(extra_conf: dict | None) -> tuple[str, str, dict]:
    """Resolve driver memory once: extra_conf wins over the env default,
    and -Xms is derived from the SAME value as spark.driver.memory so
    they can never contradict (e.g. -Xms12g with -Xmx4g fails JVM
    launch). Returns (driver_mem, extraJavaOptions, remaining_conf)."""
    extra_conf = dict(extra_conf or {})
    driver_mem = extra_conf.pop(
        "spark.driver.memory", os.environ.get("BIOSETS_SPARK_DRIVER_MEM", "12g")
    )
    extra_java = extra_conf.pop(
        "spark.driver.extraJavaOptions",
        "-Dderby.system.home=/tmp/biosets_spark_derby -Xms" + driver_mem,
    )
    return driver_mem, extra_java, extra_conf


def get_spark(
    app_name: str = "biosets-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("BIOSETS_SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    driver_mem, extra_java, extra_conf = _resolve_driver_memory(extra_conf)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        # managed-table scratch (bucketed layouts); keep metastore files
        # out of the repo/cwd
        .config("spark.sql.warehouse.dir", "/tmp/biosets_spark_warehouse")
        # -Xms pinned to the -Xmx that spark.driver.memory sets: first
        # executions of allocation-heavy plans otherwise pay heap-growth
        # full-GC stalls (measured on the 20x probe corpus: cold
        # basket-pair run 74 s -> 43 s with the heap pre-sized); the
        # cluster convention is Xms=Xmx for exactly this reason. A
        # caller's extra_conf extraJavaOptions replaces this wholesale
        # (popped above) so no stale -Xms can contradict their -Xmx.
        .config("spark.driver.extraJavaOptions", extra_java)
        # wide aggregates (128-permutation minhash signatures, packed
        # simhash vote lanes) exceed the 100-field default and fall out
        # of whole-stage codegen into interpreted mode (measured 2x on
        # the minhash signature stage); 400 keeps them compiled
        .config("spark.sql.codegen.maxFields", "400")
        # the 100-entry default evicts a warm decision_heavy pass's own
        # classes: about 236 recompiled per pass against 4-28 with 2048
        # (sf0.01, 4 cores). Static: an external session keeps its
        # owner's value
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # PySpark's call-site capture walks the Python stack and sets
        # the JVM origin on every Column call: F.col costs 14 Py4J round
        # trips with it and 3 without, alias 11 against 1. Read once per
        # process; scope.origin names error origins per query and
        # operator instead. A caller turns it back on through extra_conf
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # RocksDB state store: streaming state lives off-heap on disk
        # instead of the HDFS-backed store's JVM heap maps — the
        # production choice for large state, and measured faster even
        # at bench scale (r10 probe, 1M events: stateful dedup 29.4 s
        # -> 13.4 s, sessionization 18.2 -> 13.2 s, windowed counts
        # 28.8 -> 22.0 s). Heap state at 100 TB arrival rates is an
        # OOM, not a tuning knob. CHECKPOINT-BREAKING for pre-existing
        # HDFS-provider checkpoints — see _state_store_provider for
        # the env escape hatch; extra_conf below also overrides.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            _state_store_provider(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Put the directory holding ``biosets_spark`` on the Python
    workers' PYTHONPATH, so the Arrow-UDF operators (``mapInPandas``,
    ``applyInPandas``) import the package whatever the driver's working
    directory. Spark merges this entry with the workers' own path and
    the process environment's; it applies to every UDF built after the
    call. It reaches workers that share the driver's filesystem (local
    masters); a cluster's executors need the package installed or
    shipped with ``--py-files``."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_PARENT, *paths])


def _set_if_allowed(spark: SparkSession, key: str, value: str) -> None:
    """Set a runtime conf the session may refuse: a platform that owns
    the session can lock confs, and Spark raises ``AnalysisException``
    for a conf it will not change. A refused conf keeps the session's
    value; any other error propagates."""
    try:
        spark.conf.set(key, value)
    except AnalysisException:
        pass


def apply_session_conf(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime conf to an externally created session.

    Used when the caller (e.g. the verification driver) owns the
    SparkSession: only settings changeable at runtime are touched. The
    codegen cache size and PySpark's call-site capture are static
    (Spark refuses ``spark.conf.set`` on them), so the session keeps
    whatever its owner set.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    _ship_package(spark)
    _set_if_allowed(spark, "spark.sql.execution.arrow.pyspark.enabled", "true")
    # runtime-settable perf knobs, so an externally owned session plans
    # like the engine's own: star-schema dims should broadcast (32 MiB
    # threshold), and the 200-partition default is oversized for the
    # bench scales. Only the untouched default is overridden — a
    # caller's explicit partition count is respected.
    _set_if_allowed(spark, "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        _set_if_allowed(spark, "spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
    # keep wide aggregates (128-perm minhash signatures) inside
    # whole-stage codegen; the 100-field default drops them to
    # interpreted mode (measured 2x on the signature stage)
    _set_if_allowed(spark, "spark.sql.codegen.maxFields", "400")
    # RocksDB streaming state (see get_spark): read at query
    # (re)start, so it only affects streams STARTED after this
    # call — already-running queries keep their provider. NOTE
    # this is CHECKPOINT-BREAKING for restarts: a checkpoint
    # written under the HDFS-backed provider cannot be resumed
    # under RocksDB (Spark reads providerClass from the current
    # conf at restart) — delete/rebuild old checkpoints, or pin
    # the legacy provider via the BIOSETS_SPARK_STATE_PROVIDER
    # env var (honored here and in get_spark).
    _set_if_allowed(
        spark, "spark.sql.streaming.stateStore.providerClass", _state_store_provider())
    return spark
