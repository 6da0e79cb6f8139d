"""Semantic column roles encoded in StructField metadata.

The reference's novel typing layer is a set of dataclass feature types
(Sample/Batch/Metadata/Abundance/.../ClassLabel) registered into the
Arrow schema metadata (reference: src/biosets/features/__init__.py:71-82,
features/metadata.py, features/omics.py, features/targets.py;
embedding into schema: biodata.py:1178-1195).

Spark mapping: each column's role is a JSON-able dict stored in
``StructField.metadata`` under the ``bio.*`` keys. StructField metadata
survives Parquet round-trips and ``select``/``alias`` chains, so the
roles travel with the data exactly like the reference's
``huggingface.info.features`` schema blob.

Keys:
  bio.role          one of ROLE_* below
  bio.feature_type  registered feature type name (for input features
                    and targets)
  bio.meta          free-form per-column metadata dict
                    (ValueWithMetadata.metadata analogue)
  bio.labels        label dictionary for class targets (ClassLabel.names)
  bio.positive_labels / bio.negative_labels  (BinClassLabel)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ROLE_KEY = "bio.role"
FEATURE_TYPE_KEY = "bio.feature_type"
META_KEY = "bio.meta"
LABELS_KEY = "bio.labels"
POS_LABELS_KEY = "bio.positive_labels"
NEG_LABELS_KEY = "bio.negative_labels"

ROLE_SAMPLE = "sample"
ROLE_BATCH = "batch"
ROLE_METADATA = "metadata"
ROLE_FEATURE = "feature"
ROLE_TARGET = "target"

# Feature-type registry: name -> default Spark dtype.
# (reference: features/omics.py + features/targets.py dtype defaults —
# Expression float32, Abundance int64, GenomicVariant int8,
# ReadCount/KmerCount int64, PeakIntensity float32, RegressionTarget
# float32/64, ClassLabel int)
FEATURE_TYPES: dict[str, T.DataType] = {
    "value_with_metadata": T.StringType(),
    "expression": T.FloatType(),
    "abundance": T.LongType(),
    "genomic_variant": T.ByteType(),
    "read_count": T.LongType(),
    "kmer_count": T.LongType(),
    "peak_intensity": T.FloatType(),
    "class_label": T.IntegerType(),
    "bin_class_label": T.IntegerType(),
    "regression_target": T.FloatType(),
}

# Experiment-type presets: alias -> default input feature type
# (reference: packaged_modules/__init__.py:81-114 — metagenomics/otu/asv
# -> Abundance, snp/genomics -> GenomicVariant, maldi/ms1/ms2/proteomics
# -> PeakIntensity, rna-seq -> ReadCount, kmer -> KmerCount)
EXPERIMENT_TYPES: dict[str, str] = {
    "metagenomics": "abundance",
    "otu": "abundance",
    "asv": "abundance",
    "snp": "genomic_variant",
    "genomics": "genomic_variant",
    "maldi": "peak_intensity",
    "ms1": "peak_intensity",
    "ms2": "peak_intensity",
    "proteomics": "peak_intensity",
    "rna-seq": "read_count",
    "kmer": "kmer_count",
    "biodata": "value_with_metadata",
}


def register_feature_type(name: str, dtype: T.DataType) -> None:
    """Custom feature types registered by name (reference:
    features/__init__.py:71-82, docs/DATA_LOADING.md:387-410)."""
    FEATURE_TYPES[name] = dtype


def qcol(name: str):
    """Backtick-escaped column reference: a bare F.col('OTU.1') parses
    as struct access OTU -> 1 and fails UNRESOLVED_COLUMN — dotted
    names are pervasive in omics exports and in flatten() outputs."""
    return F.col("`" + name.replace("`", "``") + "`")


def role_updates(
    role: str,
    feature_type: str | None = None,
    meta: dict | None = None,
    labels: list | None = None,
    positive_labels: list | None = None,
    negative_labels: list | None = None,
) -> dict:
    """The ``bio.*`` metadata entries of one role tag; arguments left
    as None add no key."""
    updates: dict = {ROLE_KEY: role}
    if feature_type is not None:
        updates[FEATURE_TYPE_KEY] = feature_type
    if meta is not None:
        updates[META_KEY] = meta
    if labels is not None:
        updates[LABELS_KEY] = list(labels)
    if positive_labels is not None:
        updates[POS_LABELS_KEY] = list(positive_labels)
    if negative_labels is not None:
        updates[NEG_LABELS_KEY] = list(negative_labels)
    return updates


def with_roles(
    df: DataFrame,
    updates: dict[str, dict],
    exprs: dict[str, Column] | None = None,
) -> DataFrame:
    """Merge per-column metadata ``updates`` ({column: {key: value}})
    into the existing StructField metadata in ONE projection; a None
    value removes its key. ``exprs`` optionally replaces a tagged
    column's values in the same projection (``cast_column``).

    Tagging column by column would stack one full-width Project per
    column: width² column objects on the driver, and a plan whose
    string rendering (``plan_fingerprint``) grows with it.
    """
    if not updates:
        return df
    fields = df.schema.fields
    unknown = set(updates) - {f.name for f in fields}
    if unknown:
        raise KeyError(f"with_roles: no such columns {sorted(unknown)}")
    exprs = exprs or {}
    cols = []
    for f in fields:
        if f.name not in updates:
            cols.append(qcol(f.name))
            continue
        meta = dict(f.metadata or {})
        for k, v in updates[f.name].items():
            if v is None:
                meta.pop(k, None)
            else:
                meta[k] = v
        expr = exprs[f.name] if f.name in exprs else qcol(f.name)
        cols.append(expr.alias(f.name, metadata=meta))
    return df.select(*cols)


def with_role(
    df: DataFrame,
    col: str,
    role: str,
    feature_type: str | None = None,
    meta: dict | None = None,
    labels: list | None = None,
    positive_labels: list | None = None,
    negative_labels: list | None = None,
) -> DataFrame:
    """Tag a column with a semantic role (and optional feature type /
    label dictionary), preserving all other column metadata."""
    return with_roles(df, {col: role_updates(
        role, feature_type, meta, labels, positive_labels, negative_labels)})


def get_role(df: DataFrame, col: str) -> str | None:
    return (df.schema[col].metadata or {}).get(ROLE_KEY)


def get_feature_meta(df: DataFrame, col: str) -> dict:
    return (df.schema[col].metadata or {}).get(META_KEY, {})


def get_labels(df: DataFrame, col: str) -> list | None:
    return (df.schema[col].metadata or {}).get(LABELS_KEY)


def columns_with_role(df: DataFrame, *roles: str) -> list[str]:
    out = []
    for f in df.schema.fields:
        if (f.metadata or {}).get(ROLE_KEY) in roles:
            out.append(f.name)
    return out


def roles_snapshot(df: DataFrame) -> dict[str, dict]:
    """All bio.* metadata per column — used to re-apply roles after
    operators that drop StructField metadata (joins on conflicting
    names; see SURVEY §7.3 'schema-metadata survival')."""
    snap = {}
    for f in df.schema.fields:
        m = {k: v for k, v in (f.metadata or {}).items() if k.startswith("bio.")}
        if m:
            snap[f.name] = m
    return snap


def apply_roles(df: DataFrame, snapshot: dict[str, dict]) -> DataFrame:
    """Re-apply a ``roles_snapshot``; columns absent from ``df`` are
    skipped."""
    names = set(df.columns)
    return with_roles(df, {c: m for c, m in snapshot.items() if c in names})
