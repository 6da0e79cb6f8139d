"""As-of (nearest-preceding/following) join.

Not in the reference (SURVEY §2.3 notes theta/range/as-of joins as
engine declarations); Spark's DataFrame API has no native as-of join
either (pandas-on-Spark merge_asof exists but detours through a
different API). This implementation uses the union + carry-forward
window trick:

1. tag right rows (src=1) and left rows (src=0), union them aligned on
   (by-keys, time);
2. one window pass per partition-key ordered by (time, src) carries the
   last right payload forward (``last(..., ignorenulls=True)``);
3. keep left rows; the carried payload IS the as-of match.

Cost: ONE shuffle on the by-keys (same as any grouped window) — no
range join, no per-row subquery, no broadcast of the full right side.
This is the standard scalable formulation for time-series enrichment
at 100 TB (events vs dimension-change streams).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..scope import origin


@origin("asof_join")
def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str] | str | None = None,
    direction: str = "backward",
    right_prefix: str = "right_",
    tolerance_expr: str | None = None,
) -> DataFrame:
    """Left as-of join: each left row gains the payload of the nearest
    right row with right.on <= left.on (backward) or >= (forward),
    matching on the optional ``by`` equality keys.

    Ties on the time column resolve to the right row (src ordering);
    multiple right rows at the same instant resolve to the last one in
    (time, payload-struct) order — deterministic.

    ``tolerance_expr``: optional SQL boolean over (left ``on`` column as
    ``{l}``, matched right ``on`` column as ``{r}``), e.g.
    ``"{l} <= {r} + INTERVAL 1 HOUR"`` — non-qualifying matches null out.
    """
    by = [by] if isinstance(by, str) else list(by or [])
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")

    payload_cols = [c for c in right.columns if c not in by and c != on]
    payload = F.struct(col(on).alias(on), *[col(c) for c in payload_cols])

    rhs = right.select(
        *[col(c) for c in by],
        col(on),
        lit(1).alias("_src"),
        payload.alias("_p"),
    )
    # align schemas for the union: left keeps all its columns; right
    # contributes only (by, on, payload)
    left_types = dict(left.dtypes)
    for c in left.columns:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, lit(None).cast(left_types[c]))
    lhs = left.withColumn("_src", lit(0)).withColumn(
        "_p", lit(None).cast(rhs.schema["_p"].dataType)
    )
    unioned = lhs.select(*left.columns, "_src", "_p").unionByName(rhs.select(*left.columns, "_src", "_p"))

    # tie-break among same-instant right rows: the payload struct when
    # it is orderable; a payload containing a MAP column cannot be
    # sorted (INVALID_ORDERING_TYPE), so fall back to its JSON
    # rendering — still deterministic, just a different (documented)
    # tie order for that case
    def _orderable(dt) -> bool:
        from pyspark.sql import types as T

        if isinstance(dt, T.MapType):
            return False
        fields = getattr(dt, "fields", None)
        if fields is not None:
            return all(_orderable(f.dataType) for f in fields)
        elem = getattr(dt, "elementType", None)
        return elem is None or _orderable(elem)

    tie = col("_p") if _orderable(rhs.schema["_p"].dataType) else F.to_json(col("_p"))
    if direction == "backward":
        w = Window.partitionBy(*by).orderBy(col(on).asc(), col("_src").desc(), tie.asc()) \
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    else:
        w = Window.partitionBy(*by).orderBy(col(on).desc(), col("_src").desc(), tie.desc()) \
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    carried = unioned.withColumn("_match", F.last("_p", ignorenulls=True).over(w))
    out = carried.filter(col("_src") == 0).drop("_src", "_p")

    matched_on = col("_match")[on]
    if tolerance_expr:
        cond = F.expr(tolerance_expr.format(l=on, r=f"_match.{on}"))
        out = out.withColumn("_match", F.when(cond, col("_match")))
        matched_on = col("_match")[on]
    result = out.withColumn(right_prefix + on, matched_on)
    for c in payload_cols:
        result = result.withColumn(right_prefix + c, col("_match")[c])
    return result.drop("_match")
