"""MERGE INTO semantics as a pure DataFrame transform.

Implements the Delta/Iceberg-style three-clause MERGE (WHEN MATCHED
UPDATE / WHEN MATCHED DELETE / WHEN NOT MATCHED INSERT) as ONE full
outer join plus per-column CASE expressions — entirely JVM-side
Catalyst expressions, no Python in the loop. The functional form is
the engine primitive; the snapshotted table surface
(``sources.sink.merge_into_parquet``) layers durability and
time-travel on top of it.

Scale story: one shuffle on the merge key (both sides hash-partition
on ``on``), the same cost class as the UPSERT any table format pays.
Small CDC batches against a big target broadcast automatically under
AQE; no driver-side collection anywhere.

No reference counterpart (the reference has no mutable-table surface;
BASELINE.json extension surface).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col

from ..scope import origin


@origin("merge_into")
def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: str | list[str],
    matched_update: dict[str, Column] | None = None,
    matched_delete: Column | None = None,
    not_matched_insert: dict[str, Column] | None = None,
    matched_condition: Column | None = None,
    allow_schema_evolution: bool = False,
) -> DataFrame:
    """Return the post-MERGE state of ``target``.

    - ``on``: equality key column(s), present in both frames.
    - ``matched_update``: {target_col: expression over source cols}
      applied to matched rows (after ``matched_delete``/
      ``matched_condition`` filtering). Unlisted columns keep their
      target values.
    - ``matched_delete``: boolean Column over source cols; matched
      rows where it holds are dropped. Evaluated BEFORE
      ``matched_update`` (SQL MERGE clause order: first matching
      clause wins, delete listed first).
    - ``not_matched_insert``: {target_col: expression over source
      cols} building inserted rows for source keys absent from the
      target; target columns not listed are NULL. ``None`` means
      unmatched source rows are ignored.
    - ``matched_condition``: extra predicate gating the update clause
      (WHEN MATCHED AND <cond> THEN UPDATE).
    - ``allow_schema_evolution``: when True, ``matched_update`` /
      ``not_matched_insert`` may name columns NOT in the target (the
      Delta ``WITH SCHEMA EVOLUTION`` shape): each such column is
      appended to the output schema, its value the clause expression
      on the rows the clause touched and NULL everywhere else.
      When False (default), an unknown column name raises.

    Rows are never duplicated: each target row matches at most one
    source row (caller guarantees source key uniqueness, as SQL MERGE
    requires — a duplicate-key source makes MERGE nondeterministic;
    validated here with a loud error rather than silently exploding
    the join).
    """
    keys = [on] if isinstance(on, str) else list(on)
    matched_update = matched_update or {}

    # SQL MERGE rejects sources with duplicate keys (ambiguous row to
    # apply); enforce cheaply with a count-distinct comparison. The
    # aggregate is aliased (never groupBy().count()) so a source that
    # itself carries a "count" column can't collide.
    dup = (
        source.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__merge_n"))
        .where(col("__merge_n") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "merge_into: source has duplicate merge keys — SQL MERGE "
            "semantics are undefined for multi-match; deduplicate the "
            "source batch first (e.g. keep the latest row per key)"
        )

    # presence sentinels (NOT key-null checks: a legitimately-NULL key
    # value in either side must not read as "row absent" — eqNullSafe
    # matches NULL keys, so provenance needs its own flag)
    t = target.withColumn("__t_present", F.lit(True)).alias("__t")
    s = source.withColumn("__s_present", F.lit(True)).alias("__s")
    cond = None
    for k in keys:
        c = col(f"__t.{k}").eqNullSafe(col(f"__s.{k}"))
        cond = c if cond is None else cond & c
    joined = t.join(s, cond, "full_outer")

    s_present = col("__s.__s_present").isNotNull()
    t_present = col("__t.__t_present").isNotNull()

    # matched-delete rows vanish entirely
    if matched_delete is not None:
        joined = joined.where(
            ~(t_present & s_present & F.coalesce(matched_delete, F.lit(False)))
        )
    # source-only rows survive only when an insert clause exists
    if not_matched_insert is None:
        joined = joined.where(t_present)

    upd_gate = t_present & s_present
    if matched_condition is not None:
        upd_gate = upd_gate & F.coalesce(matched_condition, F.lit(False))

    target_names = {f.name for f in target.schema.fields}
    new_names = [
        n for n in list(matched_update) + list(not_matched_insert or {})
        if n not in target_names
    ]
    if new_names and not allow_schema_evolution:
        raise ValueError(
            f"merge_into: column(s) {sorted(set(new_names))} are not in the "
            "target schema — pass allow_schema_evolution=True to append "
            "them (NULL on untouched rows), or fix the column name"
        )

    out_cols = []
    for f in target.schema.fields:
        name = f.name
        tgt = col(f"__t.{name}")
        expr = tgt
        if name in matched_update:
            expr = F.when(upd_gate, matched_update[name]).otherwise(tgt)
        if not_matched_insert is not None:
            ins = not_matched_insert.get(name)
            if name in keys and ins is None:
                ins = col(f"__s.{name}")
            ins = ins if ins is not None else F.lit(None)
            expr = F.when(~t_present, ins.cast(f.dataType)).otherwise(expr)
        out_cols.append(expr.cast(f.dataType).alias(name))
    # evolved columns: clause expression on touched rows, NULL elsewhere
    seen: set[str] = set()
    for name in new_names:
        if name in seen:
            continue
        seen.add(name)
        expr = F.lit(None)
        if name in matched_update:
            expr = F.when(upd_gate, matched_update[name]).otherwise(expr)
        if not_matched_insert is not None and name in not_matched_insert:
            expr = F.when(~t_present,
                          not_matched_insert[name]).otherwise(expr)
        out_cols.append(expr.alias(name))
    return joined.select(*out_cols)
