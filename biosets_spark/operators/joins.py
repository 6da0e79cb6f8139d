"""Joins: sample-metadata enrichment, generic multi-type join,
positional horizontal alignment.

Reference semantics:
- J1 sample-metadata left join (biodata.py:897-934): left outer
  equi-join on the sample column; metadata columns are ordered FIRST in
  the output; non-key data columns that collide with metadata names are
  dropped from the data side.
- J2 positional align (biodata.py:935-971): no key — metadata row i
  attaches to data row i; row-count equality enforced.
- J3 generic join (table_util.py:167-364): all 8 join types, multi-key,
  right-key mapping, coalesce_keys, suffixes, key-type coercion
  right->left, null-typed keys cast to string, LIST KEYS REJECTED with
  instruction to restructure as structs (table_util.py:250-253).

Scale notes: metadata tables are small by construction -> broadcast
hash join (no shuffle of the 100 TB fact side). The generic join is a
direct Catalyst join — AQE picks broadcast/SMJ/shuffled-hash and
handles skew. Positional alignment is the one order-dependent operator:
it uses RDD ``zipWithIndex`` (two narrow passes: per-partition counts,
then offset assignment — no full shuffle) and requires/documents a
deterministic input ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import broadcast

from .. import pins
from ..schema import roles

JOIN_TYPES = {
    "inner": "inner",
    "left": "left",
    "left outer": "left",
    "right": "right",
    "right outer": "right",
    "full": "full",
    "full outer": "full",
    "outer": "full",
    "left semi": "left_semi",
    "left_semi": "left_semi",
    "left anti": "left_anti",
    "left_anti": "left_anti",
    # right semi/anti realized by swapping sides (Spark has no native)
    "right semi": "right_semi",
    "right_semi": "right_semi",
    "right anti": "right_anti",
    "right_anti": "right_anti",
}


def _reject_list_keys(df: DataFrame, keys: list[str], side: str) -> None:
    for k in keys:
        if isinstance(df.schema[k].dataType, (T.ArrayType, T.MapType)):
            # error parity with reference table_util.py:250-253
            raise TypeError(
                f"Join key {k!r} on the {side} side has a list/map type, which is not "
                "supported as a join key. Restructure the column as a struct instead."
            )


def join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str] | str,
    right_keys: list[str] | str | None = None,
    join_type: str = "inner",
    coalesce_keys: bool = True,
    suffixes: tuple[str, str] = ("", "_right"),
    broadcast_right: bool | None = None,
) -> DataFrame:
    """Generic join with the reference's J3 semantics on Spark (all 8
    join types; struct keys join natively)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    rkeys = keys if right_keys is None else ([right_keys] if isinstance(right_keys, str) else list(right_keys))
    if len(keys) != len(rkeys):
        raise ValueError("join: keys and right_keys must have equal length")
    how = JOIN_TYPES.get(join_type.lower())
    if how is None:
        raise ValueError(f"join: unknown join type {join_type!r}")

    _reject_list_keys(left, keys, "left")
    _reject_list_keys(right, rkeys, "right")

    if how in ("right_semi", "right_anti"):
        # swapped realization: right semi(L,R) == left semi(R,L)
        return join(
            right, left, rkeys, keys,
            "left semi" if how == "right_semi" else "left anti",
            coalesce_keys, suffixes,
        )

    # key-type coercion right->left (table_util.py:344-347); null-typed
    # keys cast to string (table_util.py:254-255)
    lsel, rsel = left, right
    for lk, rk in zip(keys, rkeys):
        lt, rt = left.schema[lk].dataType, right.schema[rk].dataType
        if isinstance(lt, T.NullType):
            lsel = lsel.withColumn(lk, F.col(lk).cast("string"))
            lt = T.StringType()
        if isinstance(rt, T.NullType) or rt != lt:
            rsel = rsel.withColumn(rk, F.col(rk).cast(lt))

    if how in ("left_semi", "left_anti"):
        cond = [lsel[lk] == rsel[rk] for lk, rk in zip(keys, rkeys)]
        return lsel.join(rsel, cond, how)

    ls, rs = suffixes

    if coalesce_keys:
        # Normalize to a USING-style join: align every right key column
        # to the left key NAME, then join on the shared names (Spark
        # coalesces the key columns natively for outer joins). A right
        # PAYLOAD column that already bears a left key's name must move
        # aside first, or the rename would collide.
        for lk, rk in zip(keys, rkeys):
            if lk != rk:
                if lk in rsel.columns:
                    rsel = rsel.withColumnRenamed(lk, lk + (rs or "_right"))
                rsel = rsel.withColumnRenamed(rk, lk)
        join_on = list(keys)
        # suffix the remaining non-key collisions on both sides
        collide = (set(lsel.columns) & set(rsel.columns)) - set(join_on)
        for c in collide:
            if ls:
                lsel = lsel.withColumnRenamed(c, c + ls)
            if rs:
                rsel = rsel.withColumnRenamed(c, c + rs)
        if broadcast_right:
            rsel = broadcast(rsel)
        return lsel.join(rsel, on=join_on, how=how)

    # coalesce_keys=False: keep both key columns; same-named right keys
    # (and non-key collisions) take the suffix so the output is never
    # ambiguous
    rename_right = {}
    lcols = set(lsel.columns)
    for rk in rkeys:
        if rk in lcols:
            rename_right[rk] = rk + (rs or "_right")
    for c in (lcols & set(rsel.columns)) - set(rkeys):
        if ls:
            lsel = lsel.withColumnRenamed(c, c + ls)
        if rs:
            rename_right.setdefault(c, c + rs)
    rkeys_out = [rename_right.get(rk, rk) for rk in rkeys]
    for old, new in rename_right.items():
        rsel = rsel.withColumnRenamed(old, new)
    if broadcast_right:
        rsel = broadcast(rsel)
    cond = [lsel[lk] == rsel[rk] for lk, rk in zip(keys, rkeys_out)]
    return lsel.join(rsel, cond, how)


def join_sample_metadata(
    data: DataFrame,
    metadata: DataFrame,
    sample_col: str,
    metadata_sample_col: str | None = None,
) -> DataFrame:
    """J1: left-join sample metadata onto the data table.

    Output column order = [sample, *metadata columns, *data feature
    columns] (metadata first, as the reference's polars join + column
    reorder produces, biodata.py:897-934). Colliding non-key data
    columns are dropped from the DATA side (metadata wins).

    The metadata side is broadcast: per-sample covariate tables are
    small relative to the fact table, so the 100 TB side never shuffles.
    """
    mcol = metadata_sample_col or sample_col
    meta_cols = [c for c in metadata.columns if c != mcol]
    collide = [c for c in data.columns if c in meta_cols]
    dsel = data.drop(*collide) if collide else data
    msel = metadata.withColumnRenamed(mcol, sample_col) if mcol != sample_col else metadata

    snap = {**roles.roles_snapshot(dsel), **roles.roles_snapshot(msel)}
    out = dsel.join(broadcast(msel), on=sample_col, how="left")
    data_cols = [c for c in dsel.columns if c != sample_col]
    out = out.select(sample_col, *meta_cols, *data_cols)
    out = roles.apply_roles(out, snap)
    return roles.with_role(out, sample_col, roles.ROLE_SAMPLE)


def zip_with_index_counted(
    df: DataFrame, order_by: list[str] | None = None, col_name: str = "_row_id"
) -> tuple[DataFrame, int]:
    """``zip_with_index`` variant that also returns the total row count.

    The per-partition count pass already sums to the table size, so
    callers that need both the index AND ``n`` (kfold_assign, percent
    slicing) get the count for free instead of paying a second cache +
    count() action over the indexed frame.
    """
    return _zip_with_index_impl(df, order_by, col_name)


def zip_with_index(df: DataFrame, order_by: list[str] | None = None, col_name: str = "_row_id") -> DataFrame:
    """Attach a contiguous 0-based row index — entirely JVM-side.

    Spark DataFrames are unordered; a deterministic index requires an
    explicit ordering (``order_by``) or accepting the current partition
    order (documented requirement for J2/P8 parity — SURVEY §7.3).

    Implementation (the zipWithIndex idea without the Python RDD
    round-trip, which would pickle every row through the driver-side
    serializer): ``monotonically_increasing_id`` encodes
    (partitionId << 33) | in-partition-position; a cheap count-per-
    partition pass (tiny: one row per partition) yields cumulative
    offsets, applied as a literal map. Two narrow passes, no data
    shuffle, rows never leave the JVM.

    The returned frame references a cached intermediate (the pinned
    partition layout, taken with ``pins.pin``). Once the indexed result
    (or anything derived from it) has been materialized, call
    ``release_pinned_indexes()`` to free it — batch jobs can ignore
    this (executor teardown frees the cache), long-running sessions
    should call it between jobs.
    """
    return _zip_with_index_impl(df, order_by, col_name)[0]


def _zip_with_index_impl(
    df: DataFrame, order_by: list[str] | None, col_name: str
) -> tuple[DataFrame, int]:
    src = df.orderBy(*order_by) if order_by else df
    tmp = src.withColumn("_mid", F.monotonically_increasing_id())
    tmp = (
        tmp.withColumn("_pid", F.shiftrightunsigned(F.col("_mid"), 33).cast("long"))
        .withColumn("_pos", F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)))
    )
    tmp = pins.pin(tmp)  # pin the partition layout: both passes must see the same ids
    counts = sorted(
        (r["_pid"], r["n"]) for r in tmp.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for p, n in counts:
        offsets[p] = acc
        acc += n
    if not offsets:
        return src.withColumn(col_name, F.lit(0).cast("long")).limit(0), 0
    off_map = F.create_map(*[F.lit(x).cast("long") for p, o in offsets.items() for x in (p, o)])
    out = (
        tmp.withColumn(col_name, (F.element_at(off_map, F.col("_pid")) + F.col("_pos")).cast("long"))
        .drop("_mid", "_pid", "_pos")
    )
    return out, acc


def align_horizontal(data: DataFrame, metadata: DataFrame, order_by_left: list[str] | None = None,
                     order_by_right: list[str] | None = None) -> DataFrame:
    """J2: positional horizontal alignment (metadata row i <-> data row
    i). Row-count equality enforced as in biodata.py:935-937 — via the
    counts the index pass computes anyway (zip_with_index_counted), not
    two extra standalone count() scans of both tables."""
    meta_cols = [c for c in metadata.columns if c not in data.columns]
    lhs, n1 = zip_with_index_counted(data, order_by_left)
    rhs, n2 = zip_with_index_counted(metadata.select(*meta_cols), order_by_right)
    if n1 != n2:
        raise ValueError(
            f"Positional metadata alignment requires equal row counts: data has {n1} rows, "
            f"metadata has {n2} rows."
        )
    out = lhs.join(rhs, on="_row_id", how="inner").drop("_row_id")
    return out.select(*meta_cols, *data.columns)
