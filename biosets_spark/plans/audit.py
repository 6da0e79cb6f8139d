"""Physical-plan scale audit, as a library surface.

The per-round tool ``tools/audit_plans.py`` sweeps the whole query
inventory; this module holds the single-plan logic so users can run
the same 100 TB anti-pattern checks on THEIR pipelines before
submitting them to a cluster:

    findings = BioDataset(df).audit_plan()

Checks (each finding is ``{"code", "detail"}``):

- ``cartesian-product`` — a CartesianProduct node: O(N*M) row blowup.
- ``nested-loop-join`` — BroadcastNestedLoopJoin: fine for tiny
  broadcast sides / declared range joins, a scale-killer otherwise
  (pass ``allow_nested_loop=True`` when the plan is a deliberate
  cross/range join).
- ``python-udf`` — BatchEvalPython: a row-at-a-time Python UDF in the
  hot path; the sanctioned Python paths are Arrow-batched
  (ArrowEvalPython / mapInPandas / mapInArrow).
- ``global-window`` — a Window node with an empty partition spec and a
  real sort order: the entire input moves through ONE task.
- ``wide-scan`` — a parquet scan whose ReadSchema carries 10+ columns:
  usually a missing projection (column pruning defeated).

The exchange count is reported via ``count_exchanges`` for eyeballing
rather than flagged: the right number is plan-specific.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..session import _set_if_allowed


def _bracket_groups(s: str) -> int:
    """Count top-level ``[...]`` groups in a plan-node argument string."""
    depth = groups = 0
    for ch in s:
        if ch == "[":
            if depth == 0:
                groups += 1
            depth += 1
        elif ch == "]":
            depth = max(depth - 1, 0)
    return groups


def _is_global_window(line: str) -> bool:
    """A Window physical node with an EMPTY partition spec renders as
    ``Window [exprs], [order]`` (2 bracket groups); a partitioned one
    as ``Window [exprs], [parts], [order]`` (3). An empty partition
    spec moves the entire input through ONE task — the textbook window
    scale-killer.

    Disambiguation: a PARTITIONED window with no ORDER BY (e.g. a
    share-of-total SUM over the whole partition) also renders 2
    groups — ``Window [exprs], [parts]`` — but its second group is a
    partition list, not an order spec, so it carries no ASC/DESC
    keyword. Only flag 2-group nodes whose trailing group is an
    actual sort order."""
    m = re.search(r"\bWindow (\[.*)$", line)
    if not m:
        return False
    groups = _bracket_groups(m.group(1))
    if groups >= 3:
        return False
    if groups == 2:
        last = m.group(1).rsplit("[", 1)[-1]
        return (" ASC" in last) or (" DESC" in last)
    return True


# ReadSchema truncation is governed by spark.sql.maxMetadataStringLength
# (default 100 CHARS — a 13-column scan with realistic names already
# truncates to "struct<..." with no closing '>', which the wide-scan
# regex then never matches); maxToStringFields governs expression
# lists. Both must be raised for a faithful plan string.
_PLAN_CONFS = {
    "spark.sql.debug.maxToStringFields": "200",
    "spark.sql.maxMetadataStringLength": "8192",
}


def executed_plan_string(df: DataFrame) -> str:
    """The physical plan text the audit reads (AQE initial plan).
    Session conf is saved and restored — the audit is read-only. A
    conf the session refuses keeps its value (the plan string may then
    be truncated); any other error propagates."""
    spark = df.sparkSession
    saved = {k: spark.conf.get(k, None) for k in _PLAN_CONFS}
    try:
        for k, v in _PLAN_CONFS.items():
            _set_if_allowed(spark, k, v)
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                _set_if_allowed(spark, k, old)


def count_exchanges(plan: str) -> int:
    return len(re.findall(r"\bExchange\b", plan))


def audit_plan_text(plan: str, allow_nested_loop: bool = False,
                    wide_scan_cols: int = 10,
                    allow_global_window: bool = False) -> list[dict]:
    """Audit a physical-plan string; see module docstring for codes.

    ``allow_global_window``: pass True ONLY when the window's input is
    an aggregate whose cardinality is key-bounded (e.g. a final
    ranking over per-source totals — |sources| rows at ANY corpus
    scale). A single task over such a frame is the correct plan; the
    flag exists so whole-table global windows still fail the audit."""
    findings: list[dict] = []
    if "CartesianProduct" in plan:
        findings.append({
            "code": "cartesian-product",
            "detail": "CartesianProduct node: O(N*M) row blowup; add a "
                      "join condition or broadcast a provably tiny side",
        })
    if "BroadcastNestedLoopJoin" in plan and not allow_nested_loop:
        findings.append({
            "code": "nested-loop-join",
            "detail": "BroadcastNestedLoopJoin: every probe row scans the "
                      "whole broadcast side; pass allow_nested_loop=True "
                      "only for deliberate cross/range joins over tiny sides",
        })
    if "BatchEvalPython" in plan:
        findings.append({
            "code": "python-udf",
            "detail": "row-at-a-time Python UDF (BatchEvalPython); use "
                      "built-in expressions or Arrow-batched pandas UDFs",
        })
    if not allow_global_window and any(
            _is_global_window(line) for line in plan.splitlines()):
        findings.append({
            "code": "global-window",
            "detail": "Window with empty partition spec and a sort order: "
                      "the whole input flows through ONE task; partition "
                      "the window or use the two-level prefix-sum pattern",
        })
    for s, closed in _read_schemas(plan):
        ncols = _top_level_fields(s)
        if not closed:
            # schema string truncated even at the raised conf: flag it
            # rather than silently passing the widest scans
            findings.append({
                "code": "wide-scan",
                "ncols": ncols,
                "detail": f"parquet scan reads {ncols}+ columns (schema "
                          "string truncated); project the needed columns "
                          "so pruning reaches the scan",
            })
            break
        if ncols >= wide_scan_cols:
            findings.append({
                "code": "wide-scan",
                "ncols": ncols,
                "detail": f"parquet scan reads {ncols} columns; project the "
                          "needed columns so pruning reaches the scan",
            })
            break
    return findings


def _read_schemas(plan: str) -> list[tuple[str, bool]]:
    """Extract each ReadSchema body as (text, fully_closed): the body
    runs from 'struct<' to its MATCHING '>' (nested struct/array/map
    types carry their own angle brackets, so a naive [^>]* capture
    stops at the first nested close and undercounts)."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<", plan):
        depth = 1
        i = m.end()
        start = i
        while i < len(plan) and plan[i] != "\n":
            if plan[i] == "<":
                depth += 1
            elif plan[i] == ">":
                depth -= 1
                if depth == 0:
                    break
            i += 1
        out.append((plan[start:i], depth == 0))
    return out


def _top_level_fields(s: str) -> int:
    """Count top-level fields in a struct body: commas inside nested
    <...> (struct/array/map) or (...) (decimal precision/scale) do not
    separate fields."""
    if not s.strip():
        return 0
    depth = 0
    n = 1
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            n += 1
    return n


def audit_plan(df: DataFrame, allow_nested_loop: bool = False,
               wide_scan_cols: int = 10,
               allow_global_window: bool = False) -> list[dict]:
    """Run the 100 TB anti-pattern checks against a DataFrame's
    physical plan. Returns a list of findings (empty = clean)."""
    return audit_plan_text(
        executed_plan_string(df),
        allow_nested_loop=allow_nested_loop,
        wide_scan_cols=wide_scan_cols,
        allow_global_window=allow_global_window,
    )
