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

An entry can also carry a fact derived from memoized relations
(``fact``). ``load_dataset`` keeps three kinds there: the collected
feature-metadata rows and the inferred label dictionary, which a
reload of unchanged files would otherwise recompute with Spark jobs,
and each split's built frame, which it would otherwise rebuild on the
driver. A fact is keyed by (session, ("fact", name, identities of its
inputs), snapshots of its inputs), so a rewrite of any input is a
miss, like the relation's own.

A miss evicts the superseded snapshots of the same (session, identity),
so a rewrite loop cannot grow the memo, and the memo holds at most
``MAX_RELATIONS`` entries, facts included, least recently used dropped
first. It holds lazy DataFrames and small immutable driver values
only: no data is pinned on the cluster, no memoized plan reads a pin
(a plan that pins, like the J2 positional join, is built on every
load), and ``pins.release()`` and ``clearCache()`` do not touch it.
``tables.refresh()`` clears it.
"""

from __future__ import annotations

import os
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# superseded snapshots are evicted on a miss; the bound caps what
# distinct files and load arguments add
MAX_RELATIONS = 128

# (session key, identity, snapshot) -> resolved lazy DataFrame or
# driver fact, in least-recently-used-first order
_RELATIONS: dict[tuple, object] = {}
_LOCK = threading.Lock()
_MISSING = object()


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


def _memo(key: tuple, build: Callable[[], object]):
    """The entry under ``key``, calling ``build()`` to store it on a
    miss. A ``build`` that raises stores nothing."""
    with _LOCK:
        value = _RELATIONS.pop(key, _MISSING)
        if value is not _MISSING:
            _RELATIONS[key] = value
            return value
    # built outside the lock: it runs Spark jobs, and two threads
    # missing on one key at once only build it twice
    value = build()
    with _LOCK:
        for stale in [k for k in _RELATIONS if k[:2] == key[:2]]:
            del _RELATIONS[stale]
        while len(_RELATIONS) >= MAX_RELATIONS:
            del _RELATIONS[next(iter(_RELATIONS))]
        _RELATIONS[key] = value
    return value


def relation(spark: SparkSession, identity: tuple, snapshot: tuple,
             build: Callable[[], DataFrame]) -> DataFrame:
    """The memoized relation for ``identity`` at ``snapshot`` in this
    session, calling ``build()`` to resolve it on a miss. A ``build``
    that raises stores nothing."""
    return _memo((_session_key(spark), identity, snapshot), build)


def fact(spark: SparkSession, name: tuple, inputs: list,
         compute: Callable[[], object]):
    """The memoized driver fact ``name`` derived from ``inputs``,
    calling ``compute()`` on a miss. Every input must be a frame this
    memo returned in this session; the fact is then keyed by their
    identities and snapshots, so a rewrite of any input is a miss. Any
    other input (an Arrow, npz or Avro read, a path that cannot be
    stat'ed, a union of several formats, a renamed frame) makes it
    ``compute()`` with nothing stored, as does a ``compute`` that
    raises. The value is shared by every later hit: return an
    immutable one."""
    session = _session_key(spark)
    with _LOCK:
        keys = [next((k for k, v in _RELATIONS.items()
                      if v is df and k[0] == session), None)
                for df in inputs]
    if any(k is None for k in keys):
        return compute()
    return _memo((session, ("fact", name, tuple(k[1] for k in keys)),
                  tuple(k[2] for k in keys)), compute)


def clear() -> None:
    with _LOCK:
        _RELATIONS.clear()
