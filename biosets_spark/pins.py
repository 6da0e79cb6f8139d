"""Pinned intermediates: the one place that caches, checkpoints and
frees them.

Each call site keeps the kind of pin its one-shot A/B chose. A cache
keeps the lineage, so a consumer that runs after the pin was freed
recomputes from source. A ``localCheckpoint`` truncates the lineage;
its blocks are executor-local and unreplicated, and a consumer that
runs after the pin was freed fails. ``unpin`` frees a pin that does
not escape its operator; ``release`` frees the rest, including the
pins behind frames handed to the caller, once every derived frame has
been materialized (collect or write).
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import DataFrame

# Past MAX_PINS entries the oldest reference is dropped, not freed (a
# frame derived from it may still be unmaterialized), so Spark's
# GC-driven ContextCleaner can reclaim it once the caller's references
# die and a session that never calls release() does not grow forever.
MAX_PINS = 64
_PINS: list[DataFrame] = []


def pin(df: DataFrame, checkpoint: bool = False, eager: bool = False) -> DataFrame:
    """Cache (or local-checkpoint) ``df`` and register it; ``eager``
    fills the pin with one job now instead of at its first consumer.
    Consumers must read the returned frame."""
    df = df.localCheckpoint(eager=eager) if checkpoint else df.cache()
    _PINS.append(df)
    if len(_PINS) > MAX_PINS:
        del _PINS[0]
    if eager and not checkpoint:
        df.count()
    return df


def _free(df: DataFrame) -> None:
    if df.is_cached:
        df.unpersist()
        return
    # a checkpoint is persisted outside the CacheManager; its RDD hangs
    # off the LogicalRDD plan node. Any other frame was never pinned.
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def unpin(df: DataFrame) -> None:
    """Free one pin now, whichever kind it is."""
    _PINS[:] = [p for p in _PINS if p is not df]
    _free(df)


def release() -> int:
    """Free every registered pin and return how many. Pins taken under
    a session that has since been stopped are dropped uncounted; any
    other failure raises."""
    active = SparkContext._active_spark_context
    n = 0
    while _PINS:
        f = _PINS.pop()
        if active is None or f.sparkSession.sparkContext is not active:
            continue  # its session was stopped; the blocks went with it
        _free(f)
        n += 1
    return n
