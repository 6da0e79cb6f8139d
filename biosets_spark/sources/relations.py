"""Source-relation memo: resolve each unchanged input once per session.

Resolving a file source is driver work plus Spark jobs before any
query runs: a CSV/TSV read with schema inference submits a header job
and an inference job, and a Parquet read submits a footer job. Reading
the same unchanged files again in the same session would repeat all of
it, so the resolved relation is memoized here, once, for every caller
(``tables.load`` for the query tables, ``readers.read_files`` for
``load_dataset`` and direct reads).

An entry is keyed by (session, identity, snapshot):

- the session's ``sessionUUID``, so a stopped-and-recreated session
  never serves a plan bound to a dead JVM context;
- the caller's identity of the read (which table, or which files with
  which format, options and schema-relevant confs);
- a snapshot of the inputs, ``(path, size, mtime_ns)`` per file, so an
  in-place rewrite is a miss without a manual refresh.

A miss evicts the superseded snapshots of the same (session, identity),
so a rewrite loop cannot grow the memo, and the memo holds at most
``MAX_RELATIONS`` entries, least recently used dropped first. It holds
lazy DataFrames only: no data is pinned, and ``pins.release()`` and
``clearCache()`` do not touch it. ``tables.refresh()`` clears it.
"""

from __future__ import annotations

import os
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# archive members are unpacked into a fresh scratch directory on every
# load, so their keys never repeat; the bound keeps those from piling up
MAX_RELATIONS = 128

# (session key, identity, snapshot) -> resolved lazy DataFrame, in
# least-recently-used-first order
_RELATIONS: dict[tuple, DataFrame] = {}
_LOCK = threading.Lock()


def path_snapshot(path: str) -> tuple:
    """(relpath, size, mtime) identity of a path — one stat per file,
    no footer reads. Recurses into subdirectories so partitioned
    layouts (``table/part=x/part-*.parquet``) are covered: an in-place
    rewrite of a nested part-file changes neither the subdir entry nor
    the top level, so a flat scandir would serve a stale plan. A
    path the driver cannot stat (missing, a glob, a ``file://`` or
    remote URI) snapshots empty."""
    try:
        st = os.stat(path)
    except OSError:
        return ()
    # nanosecond mtime: a same-size rewrite within the same SECOND must
    # still invalidate (whole-second truncation misses exactly the
    # tight rewrite loop this snapshot exists to catch)
    if not os.path.isdir(path):
        return ((path, st.st_size, st.st_mtime_ns),)
    out = []
    # follow directory symlinks (a symlinked subdir must be recursed,
    # not recorded as one stale (size, mtime) of the target) — guard
    # cycles with a visited (dev, ino) set
    seen: set = set()

    def _walk(d: str, prefix: str) -> None:
        try:
            dst = os.stat(d)
        except OSError:
            return
        ident = (dst.st_dev, dst.st_ino)
        if ident in seen:
            return
        seen.add(ident)
        try:
            entries = list(os.scandir(d))
        except OSError:
            return
        for entry in entries:
            rel = prefix + entry.name
            try:
                if entry.is_dir(follow_symlinks=True):
                    _walk(entry.path, rel + "/")
                else:
                    est = entry.stat()
                    out.append((rel, est.st_size, est.st_mtime_ns))
            except OSError:
                out.append((rel, -1, -1))

    _walk(path, "")
    return tuple(sorted(out))


def _session_key(spark: SparkSession) -> str:
    try:
        return spark._jsparkSession.sessionUUID()
    except AttributeError:  # Spark Connect session: no JVM handle
        return str(id(spark))


def relation(spark: SparkSession, identity: tuple, snapshot: tuple,
             build: Callable[[], DataFrame]) -> DataFrame:
    """The memoized relation for ``identity`` at ``snapshot`` in this
    session, calling ``build()`` to resolve it on a miss. A ``build``
    that raises stores nothing."""
    key = (_session_key(spark), identity, snapshot)
    with _LOCK:
        df = _RELATIONS.pop(key, None)
        if df is not None:
            _RELATIONS[key] = df
            return df
    # resolved outside the lock: it runs Spark jobs, and two threads
    # missing on one key at once only build it twice
    df = build()
    with _LOCK:
        for stale in [k for k in _RELATIONS if k[:2] == key[:2]]:
            del _RELATIONS[stale]
        while len(_RELATIONS) >= MAX_RELATIONS:
            del _RELATIONS[next(iter(_RELATIONS))]
        _RELATIONS[key] = df
    return df


def clear() -> None:
    with _LOCK:
        _RELATIONS.clear()
