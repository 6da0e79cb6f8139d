"""Plan-fingerprint cache: cross-session materialized-result reuse.

The one optimizer feature the reference has that Catalyst does not
(SURVEY §4): a persistent cache keyed by a deterministic hash of the
computation (reference: src/biosets/utils/fingerprint.py:56-93 xxhash
over dill-serialized transform args; cache file reuse in
arrow_dataset.py).

Spark re-expression: fingerprint = sha256 over (canonicalized logical
plan string + input file listing (path, size, mtime) + params). A hit
short-circuits the whole computation with a Parquet scan of the cached
result; a miss computes, writes Parquet, then returns the scan of what
was written (so downstream reuse is also IO-pruned).

Driver-side library, not a Catalyst rule — mirrors the reference's
position of caching outside the execution engine.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession


def _input_files_snapshot(df: DataFrame) -> list[tuple[str, int, int]]:
    out = []
    for f in df.inputFiles():
        p = f.replace("file:", "")
        try:
            st = os.stat(p)
            # nanosecond mtime: a same-size rewrite within the same
            # second must change the fingerprint (same bug class as
            # tables.py's snapshot, fixed there with st_mtime_ns)
            out.append((f, st.st_size, st.st_mtime_ns))
        except OSError:
            out.append((f, -1, -1))
    return sorted(out)


_EPHEMERAL = re.compile(r"#\d+L?|plan_id=\d+")


def plan_fingerprint(df: DataFrame, params: dict | None = None) -> str:
    """Deterministic fingerprint of a DataFrame's computation.

    Canonicalization strips per-session expression ids (#123) from the
    analyzed plan string so the same logical computation fingerprints
    identically across sessions — the analogue of the reference's
    comment-insensitive function hashing
    (packaged_modules/__init__.py:29-69).
    """
    # plan strings truncate output lists at spark.sql.debug.
    # maxToStringFields (default 25): two plans differing only in a
    # column past the cut rendered IDENTICALLY and collided (verified:
    # 31-column plans differing in c29 shared a fingerprint, so the
    # cache returned the wrong materialization). Raise the conf for
    # the rendering and restore it after — same discipline as
    # plans/audit.executed_plan_string.
    spark = df.sparkSession
    key = "spark.sql.debug.maxToStringFields"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, "100000")
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    canon = _EPHEMERAL.sub("#", plan)
    payload = json.dumps(
        {"plan": canon, "inputs": _input_files_snapshot(df), "params": params or {}},
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


class FingerprintCache:
    """Parquet materializations keyed by plan fingerprint.

    ``max_bytes`` / ``max_age_seconds`` bound the cache directory so a
    long-lived deployment can't grow it without limit: eviction is LRU
    by entry mtime (a cache hit touches the entry, so recently-reused
    materializations survive), run after every write. Both default to
    unbounded for reference parity (the reference never evicts either;
    arrow_dataset.py cleanup is manual).
    """

    def __init__(self, cache_dir: str, max_bytes: int | None = None,
                 max_age_seconds: float | None = None,
                 evict_grace_seconds: float = 0.0):
        self.cache_dir = cache_dir
        self.max_bytes = max_bytes
        self.max_age_seconds = max_age_seconds
        # entries touched (written or hit) within the last
        # evict_grace_seconds are NEVER evicted — the contract a
        # concurrent deployment needs so a frame handed out by
        # materialize() survives until its caller has materialized it
        # (the cache lock serializes lifecycle transitions, but the
        # hand-out is a lazy scan; without a grace window a size-bound
        # sweep from another thread can remove the entry between
        # return and first action). Size bounds become EVENTUAL under
        # a non-zero grace: the budget may be temporarily exceeded by
        # in-grace entries. Default 0 keeps strict bounds for
        # single-threaded use.
        self.evict_grace_seconds = evict_grace_seconds
        os.makedirs(cache_dir, exist_ok=True)

    def path_for(self, fp: str) -> str:
        return os.path.join(self.cache_dir, f"cache-{fp}.parquet")

    def has(self, fp: str) -> bool:
        p = self.path_for(fp)
        return os.path.isdir(p) and os.path.exists(os.path.join(p, "_SUCCESS"))

    def _lock(self):
        """Advisory single-host lock serializing entry lifecycle
        transitions (write-miss, evict, clear) against each other —
        the sources/sink.py commit-lock pattern (O_CREAT|O_EXCL lock
        file, stale-break). Without it a concurrent evict() can rmtree
        an entry between another thread's write and its hand-out scan.
        The lock covers METADATA transitions only: a frame already
        handed out is a lazy Parquet scan, and protecting it from a
        LATER eviction is the caller's lifecycle concern (materialize
        it, or size the bounds so live entries survive)."""
        from ..sources.sink import _table_commit_lock

        return _table_commit_lock(self.cache_dir, lock_name="_fpcache")

    def materialize(self, df: DataFrame, params: dict | None = None, *,
                    fp: str | None = None) -> DataFrame:
        """Return a cached-or-computed materialization of ``df``.
        ``fp`` is ``plan_fingerprint(df, params)`` when the caller has
        already computed it."""
        spark: SparkSession = df.sparkSession
        fp = fp or plan_fingerprint(df, params)
        p = self.path_for(fp)
        with self._lock():
            if self.has(fp):
                # LRU touch: a hit refreshes the entry's mtime so
                # eviction removes cold entries first
                os.utime(p, None)
            else:
                df.write.mode("overwrite").parquet(p)
                # never evict the entry being returned, even if it
                # alone exceeds the size bound
                self._evict_locked(protect=p)
        return spark.read.parquet(p)

    def _entries(self) -> list[tuple[str, float, int]]:
        """(path, mtime, bytes) per cache entry, oldest first."""
        out = []
        for d in os.listdir(self.cache_dir):
            if not d.startswith("cache-"):
                continue
            p = os.path.join(self.cache_dir, d)
            try:
                mtime = os.stat(p).st_mtime
                size = sum(
                    os.path.getsize(os.path.join(root, f))
                    for root, _, files in os.walk(p)
                    for f in files
                )
            except OSError:
                continue
            out.append((p, mtime, size))
        return sorted(out, key=lambda e: e[1])

    def evict(self, protect: str | None = None) -> int:
        """Apply the TTL and size bounds (LRU by mtime); returns the
        number of entries removed. ``protect`` exempts one entry (the
        one a caller is about to hand out). No-op when both bounds are
        None. Takes the cache lock — safe to call concurrently with
        materialize() from another thread/process."""
        if self.max_bytes is None and self.max_age_seconds is None:
            return 0
        with self._lock():
            return self._evict_locked(protect=protect)

    def _evict_locked(self, protect: str | None = None) -> int:
        if self.max_bytes is None and self.max_age_seconds is None:
            return 0
        import shutil
        import time

        removed = 0
        entries = [e for e in self._entries() if e[0] != protect]
        if self.evict_grace_seconds > 0:
            # in-grace entries are exempt but (like protect) still
            # count toward the size budget below via _entries()
            fresh_cut = time.time() - self.evict_grace_seconds
            grace_size = sum(s for _, mt, s in entries if mt >= fresh_cut)
            entries = [e for e in entries if e[1] < fresh_cut]
        else:
            grace_size = 0
        if self.max_age_seconds is not None:
            cutoff = time.time() - self.max_age_seconds
            keep = []
            for p, mtime, size in entries:
                if mtime < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
                    removed += 1
                else:
                    keep.append((p, mtime, size))
            entries = keep
        if self.max_bytes is not None:
            # the protected entry still counts toward the budget
            protected_size = 0
            if protect is not None:
                protected_size = sum(s for p, _, s in self._entries() if p == protect)
            total = protected_size + grace_size + sum(
                size for _, _, size in entries)
            for p, _, size in entries:  # oldest first
                if total <= self.max_bytes:
                    break
                shutil.rmtree(p, ignore_errors=True)
                total -= size
                removed += 1
        return removed

    def clear(self) -> int:
        """Cache cleanup (reference arrow_dataset.py:255-292
        cleanup_cache_files analogue). Locked like evict()."""
        import shutil

        n = 0
        with self._lock():
            for d in os.listdir(self.cache_dir):
                if d.startswith("cache-"):
                    shutil.rmtree(os.path.join(self.cache_dir, d),
                                  ignore_errors=True)
                    n += 1
        return n
