"""Concatenation (vertical with promotion, horizontal positional) and
set operations.

Reference semantics:
- C1 vertical concat with permissive schema promotion
  (table_util.py:143-151, biodata.py:1065-1067) -> ``union_promote``
  (lattice casts + unionByName, schema/lattice.py).
- C2 horizontal concat (axis=1) with duplicate-column dedup, first
  occurrence wins (load.py:255-265) -> positional zip join.
- C4 split concatenation ``split="train+test"`` (docs/DATA_LOADING.md:
  257-261) -> union of split DataFrames.

Set ops (intersect/except/distinct) are declared engine capabilities
the reference inherits from its dataframe runtimes; they pass straight
through to Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..schema.lattice import union_promote
from ..scope import origin
from .joins import align_horizontal


@origin("concat")
def concat(dfs: list[DataFrame], axis: int = 0, zero_as_missing: bool = False) -> DataFrame:
    """Concatenate datasets vertically (axis=0, with upcast promotion
    and missing-column null/zero fill) or horizontally (axis=1,
    positional, duplicate column names deduped first-wins)."""
    if not dfs:
        raise ValueError("concat: need at least one DataFrame")
    if axis == 0:
        return union_promote(dfs, zero_as_missing=zero_as_missing)
    if axis == 1:
        out = dfs[0]
        for d in dfs[1:]:
            new_cols = [c for c in d.columns if c not in out.columns]
            if not new_cols:
                continue
            out = align_horizontal(out, d.select(*new_cols))
            # align_horizontal puts metadata first; restore left-then-right order
            out = out.select(*[c for c in out.columns if c not in new_cols], *new_cols)
        return out
    raise ValueError(f"concat: axis must be 0 or 1, got {axis}")
