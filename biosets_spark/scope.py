"""Error origins named once per query and operator.

Under ANSI a runtime error (``DIVIDE_BY_ZERO``, ``CAST_INVALID_INPUT``)
names where its failing expression was built: the JVM stamps each
expression with the origin its thread holds at construction
(``PySparkCurrentOrigin``). PySpark's own call-site capture sets that
origin on every Column call, at 11 extra Py4J round trips per
``F.col`` and 10 per ``alias``; ``get_spark`` turns it off. ``origin``
sets it once per scope instead, so an error raised at ``collect()``
reads::

    "q_dedup_minhash_lsh > minhash_lsh_pairs" was called from
    .../operators/dedup.py:332

The fragment names the chain of open scopes; the call site is the
innermost scope's ``file:line`` alone, because PySpark's structured
error record (``DataFrameQueryContextLogger``) splits it into its
``file`` and ``line`` fields at the colon.

Every registered query and every public operator that returns a
DataFrame runs inside one; column helpers (``shingles``,
``scaled_vec``) do not, so building a Column pays no round trip for it.
With PySpark's capture turned back on, its per-call origin replaces the
scope's for the expressions built by that call.
"""

from __future__ import annotations

import contextlib
import sys
import threading

from pyspark import SparkContext

_LOCAL = threading.local()
# (the JVM view it was resolved on, PySparkCurrentOrigin.set, .clear)
_RESOLVED: tuple = (None, None, None)


def _stack() -> list[tuple[str, str]]:
    """This thread's open scopes, outermost first, as (chain of scope
    names, the scope's own ``file:line``)."""
    return _LOCAL.__dict__.setdefault("stack", [])


def _jvm_origin():
    """``PySparkCurrentOrigin``'s ``set`` and ``clear``, resolved once
    per JVM (each resolution is a Py4J round trip); ``None`` before any
    SparkContext has started the JVM."""
    global _RESOLVED
    jvm = SparkContext._jvm
    if jvm is None:
        return None
    if _RESOLVED[0] is not jvm:
        cls = getattr(jvm, "org.apache.spark.sql.catalyst.trees.PySparkCurrentOrigin")
        _RESOLVED = (jvm, cls.set, cls.clear)
    return _RESOLVED[1:]


class origin(contextlib.ContextDecorator):
    """Scope whose expressions report ``name`` as their error origin,
    after the scopes around it on this thread.

    As a decorator, the call site is the decorated function's file and
    the line its definition starts on (its first decorator); as a ``with`` block, the file
    and line of the ``origin(...)`` call. Entry costs one Py4J round
    trip, and exit one more: it restores the enclosing scope's origin,
    or clears it."""

    def __init__(self, name: str):
        self.name = name
        caller = sys._getframe(1)
        self.where = f"{caller.f_code.co_filename}:{caller.f_lineno}"

    def __call__(self, fn):
        code = fn.__code__
        self.where = f"{code.co_filename}:{code.co_firstlineno}"
        inner = super().__call__(fn)
        inner.origin = self.name
        return inner

    def __enter__(self):
        stack = _stack()
        chain = f"{stack[-1][0]} > {self.name}" if stack else self.name
        stack.append((chain, self.where))
        jvm = _jvm_origin()
        if jvm is not None:
            jvm[0](chain, self.where)
        return self

    def __exit__(self, *exc):
        stack = _stack()
        stack.pop()
        jvm = _jvm_origin()
        if jvm is not None:
            if stack:
                jvm[0](*stack[-1])
            else:
                jvm[1]()
