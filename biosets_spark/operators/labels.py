"""Label analytics: dictionary building, encoding, binary mapping, decode.

Reference semantics:
- label dictionary = distinct non-null target values
  (biodata.py:884-893, 974-1023). The reference's ``list(set(...))``
  is order-nondeterministic; this engine SORTS the dictionary so codes
  are reproducible across runs and cluster sizes (documented
  improvement, SURVEY §7.3).
- encoding appends an ``encoded_labels`` int column; unseen values map
  to -1 (biodata.py:821-833). On name collision the new column is
  renamed ``encoded_labels_`` (biodata.py:634-638).
- binary re-labeling: positive_labels -> 1, negative_labels -> 0,
  values in neither set -> 0 / 1 / -1 depending on which sets were
  given (biodata.py:836-879).
- decode rebuilds the string column from the dictionary
  (arrow_dataset.py:197-224).

Scale notes: the dictionary is a driver-side list (label cardinality is
small by construction); encoding is a pure Catalyst expression
(map literal lookup / CASE WHEN) — whole-stage-codegen'd, no shuffle,
no UDF, no join. ``distinct()`` on the target column is a partial-agg
shuffle of only the distinct values — at 100 TB this is a few KB per
partition after map-side combine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import roles
from ..scope import origin

TARGET_COLUMN = "encoded_labels"  # reference: biodata.py:62


def label_dictionary(df: DataFrame, col: str) -> list:
    """Sorted distinct non-null values of the target column (A1)."""
    rows = df.select(col).where(F.col(col).isNotNull()).distinct().collect()
    return sorted(r[0] for r in rows)


def encode_expr(col: Column, labels: list) -> Column:
    """int code of ``col`` per the dictionary; unseen/null -> -1 (A2)."""
    mapping = F.create_map(*[x for lab, i in zip(labels, range(len(labels))) for x in (F.lit(lab), F.lit(i))])
    return F.coalesce(F.element_at(mapping, col), F.lit(-1)).cast("int")


def binary_encode_expr(
    col: Column,
    positive_labels: list | None,
    negative_labels: list | None,
) -> Column:
    """Binary relabel (A3): pos->1, neg->0; the fallback for values in
    neither set depends on which sets were given (biodata.py:851-867):
    both given -> -1; only positives -> 0; only negatives -> 1.
    """
    if positive_labels and negative_labels:
        other = -1
    elif positive_labels:
        other = 0
    elif negative_labels:
        other = 1
    else:
        raise ValueError("binary_encode_expr: need positive_labels and/or negative_labels")
    expr = F.when(F.lit(False), F.lit(None))
    if positive_labels:
        expr = F.when(col.isin(positive_labels), F.lit(1))
    if negative_labels:
        expr = expr.when(col.isin(negative_labels), F.lit(0))
    return expr.otherwise(F.lit(other)).cast("int")


@origin("encode_labels")
def encode_labels(
    df: DataFrame,
    target_col: str,
    labels: list | None = None,
    positive_labels: list | None = None,
    negative_labels: list | None = None,
    output_col: str = TARGET_COLUMN,
) -> tuple[DataFrame, list]:
    """Append the encoded target column; returns (df, dictionary).

    The dictionary is pinned into the output column's StructField
    metadata so downstream ``decode`` needs no recomputation.
    """
    cols = df.columns
    if output_col in cols:
        output_col = output_col + "_"  # rename-on-collision, biodata.py:634-638
    # the tagged column is appended in one projection; a column already
    # holding the renamed name is replaced, as withColumn would
    base = df.drop(output_col) if output_col in cols else df
    if positive_labels or negative_labels:
        expr = binary_encode_expr(F.col(target_col), positive_labels, negative_labels)
        tag = roles.role_updates(
            roles.ROLE_TARGET,
            feature_type="bin_class_label",
            positive_labels=positive_labels or [],
            negative_labels=negative_labels or [],
        )
        return base.select("*", expr.alias(output_col, metadata=tag)), [0, 1]
    if labels is None:
        labels = label_dictionary(df, target_col)
    tag = roles.role_updates(roles.ROLE_TARGET, feature_type="class_label", labels=labels)
    out = base.select("*", encode_expr(F.col(target_col), labels).alias(output_col, metadata=tag))
    return out, labels


def decode_expr(col: Column, labels: list) -> Column:
    """String label from int code via the dictionary (P11);
    out-of-range codes (e.g. -1) decode to null."""
    arr = F.array(*[F.lit(x) for x in labels])
    return F.when((col >= 0) & (col < len(labels)), F.element_at(arr, col + 1))


@origin("decode")
def decode(df: DataFrame, col: str, labels: list | None = None, output_col: str | None = None) -> DataFrame:
    labels = labels if labels is not None else roles.get_labels(df, col)
    if labels is None:
        raise ValueError(f"decode: no label dictionary for column {col!r}")
    return df.withColumn(output_col or col, decode_expr(F.col(col), labels))


def task_type(df: DataFrame, col: str) -> str:
    """Classify a target column as regression vs classification by dtype
    (A4; reference: biodata.py:72-95 — float/temporal/decimal ->
    regression, bool/string/int -> classification)."""
    from pyspark.sql import types as T

    t = df.schema[col].dataType
    if isinstance(t, (T.FloatType, T.DoubleType, T.DecimalType, T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "regression"
    return "classification"
