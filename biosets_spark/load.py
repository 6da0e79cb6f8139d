"""load_dataset: the main ingest -> enrich -> type -> encode pipeline.

Spark re-expression of the reference's query lifecycle (SURVEY §3.1;
reference: src/biosets/load.py:110-252 API, biodata.py:210-380 planner,
biodata.py:1037-1198 physical pipeline):

1. driver-side planning: resolve data/metadata files (glob
   conventions), infer splits from filenames;
2. per split: scan data shards (extension dispatch, schema promotion
   across shards), scan+union sample metadata; files unchanged since
   their last read in this session reuse the relation resolved then
   (sources/relations.py), so a reload submits no header, inference
   or footer job;
3. infer column roles by name patterns (biodata.py:596-705,
   1381-1604);
4. enrich: left-join sample metadata on the sample column (J1) or
   positionally when no key exists (J2); attach feature metadata to
   column StructField metadata (J4);
5. encode labels (A1-A3) appending ``encoded_labels``;
6. return {split: BioDataset} (or a single BioDataset when one split).

All heavy lifting is a Catalyst plan: scan -> broadcast join ->
withColumn(map-lookup). The only collected data is the label
dictionary and the (small) feature-metadata table; with the sources
resolved, those two collects are a reload's only jobs.
"""

from __future__ import annotations

import functools
import re
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dataset import BioDataset, BioDatasetDict
from .operators import joins as _joins
from .operators import labels as _labels
from .schema import roles
from .schema.lattice import union_promote
from .sources import discovery, readers

# column-name patterns for role inference, case-insensitive, leftmost
# match wins (reference: biodata.py:577-580, 1533-1553)
SAMPLE_PATTERNS = [r"^sample(s|[_\-\s]*id|[_\-\s]*name)?$", r"^name$", r"^id$", r"^subject", r"^patient"]
BATCH_PATTERNS = [r"^batch(es|[_\-\s]*id)?$"]
TARGET_PATTERNS = [r"^target$", r"^label(s)?$", r"^class(es)?$", r"^y$", r"^disease", r"^diagnosis", r"^phenotype"]
METADATA_PATTERNS = [r"^metadata", r"^meta[_\-\s]", r"^covariate"]
FEATURE_KEY_PATTERNS = [r"^feature(s|[_\-\s]*id|[_\-\s]*name)?$", r"^name$", r"^id$"]

# Feature metadata (one row per data column) is driver-collected; these
# bound that collect. 100k features ~ tens of MB of row dicts (fine but
# worth a warning); 10M rows is not feature metadata — refuse.
FEATURE_METADATA_WARN_ROWS = 100_000
# Hard cap on collected feature-metadata rows. 1M rows of per-column
# metadata is already far beyond any omics panel (1e3..1e5 features);
# anything larger is row-shaped data misrouted into this argument. The
# cap also bounds driver memory for the limit(cap+1).collect() guard.
FEATURE_METADATA_HARD_CAP = 1_000_000


class ReadInstruction:
    """Programmatic split-slice spec, the reference's alternative to the
    string grammar (docs/DATA_LOADING.md:251-309):

        ReadInstruction("train", from_=50, to=52, unit="%",
                        rounding="pct1_dropremainder")

    ``unit`` is ``"%"`` or ``"abs"``; ``rounding`` is ``"closest"``
    (default) or ``"pct1_dropremainder"`` (percent unit only).
    Instances compose with ``+`` (concatenation, like
    ``"train[:10%]+train[-80%:]"``) and render back to the string
    grammar via ``to_spec()`` — load_dataset accepts either form.
    """

    def __init__(self, split_name: str, from_: int | None = None,
                 to: int | None = None, unit: str = "abs",
                 rounding: str = "closest"):
        if unit not in ("%", "abs"):
            raise ValueError(f"unit must be '%' or 'abs', got {unit!r}")
        if rounding not in ("closest", "pct1_dropremainder"):
            raise ValueError(
                f"rounding must be 'closest' or 'pct1_dropremainder', got {rounding!r}")
        if rounding == "pct1_dropremainder" and unit != "%":
            raise ValueError("pct1_dropremainder applies to unit='%' only")
        self._parts: list[tuple[str, int | None, int | None, str, str]] = [
            (split_name, from_, to, unit, rounding)
        ]

    @classmethod
    def _from_parts(cls, parts) -> "ReadInstruction":
        inst = cls.__new__(cls)
        inst._parts = list(parts)
        return inst

    def __add__(self, other: "ReadInstruction") -> "ReadInstruction":
        if not isinstance(other, ReadInstruction):
            return NotImplemented
        return ReadInstruction._from_parts(self._parts + other._parts)

    @classmethod
    def from_spec(cls, spec: str) -> "ReadInstruction":
        parts = []
        for name, a, b, pct, rounding in discovery.parse_split_spec(spec):
            if a is None and b is None:
                parts.append((name, None, None, "abs", rounding))
            else:
                parts.append((name, a, b, "%" if pct else "abs", rounding))
        return cls._from_parts(parts)

    def to_spec(self) -> str:
        pieces = []
        for name, a, b, unit, rounding in self._parts:
            if a is None and b is None:
                pieces.append(name)
                continue
            u = "%" if unit == "%" else ""
            s = f"{name}[{'' if a is None else a}{u if a is not None else ''}:" \
                f"{'' if b is None else b}{u if b is not None else ''}]"
            if rounding != "closest":
                s += f"({rounding})"
            pieces.append(s)
        return "+".join(pieces)

    def __repr__(self) -> str:
        return f"ReadInstruction({self.to_spec()!r})"


def _match_col(columns: list[str], patterns: list[str]) -> str | None:
    for p in patterns:
        for c in columns:
            if re.match(p, c, re.IGNORECASE):
                return c
    return None


def _feature_meta_from_rows(rows: list[dict], key: str) -> tuple[dict[str, dict], list[str]]:
    """Key a collected feature-metadata table by one of its columns
    (reference _convert_feature_metadata_to_dict, biodata.py:706-717)."""
    meta: dict[str, dict] = {}
    order: list[str] = []
    for row in rows:
        d = dict(row)
        k = str(d.pop(key))
        meta[k] = d
        order.append(k)
    return meta, order


# reader options each format understands; a HETEROGENEOUS load passes
# the user's options to every format group, so each group takes its own
# subset (read_files itself is strict and raises on leftovers — the
# filter lives here, at the one call site that legitimately mixes)
_FMT_OPTIONS = {
    "csv": {"sep", "header", "schema", "null_values", "skip_rows",
            "encoding", "quote_char", "infer_schema", "column_names"},
    "tsv": {"sep", "header", "schema", "null_values", "skip_rows",
            "encoding", "quote_char", "infer_schema", "column_names"},
    "json": {"field"},
    "parquet": {"merge_schema", "schema"},
    "orc": {"schema"},
    "arrow": set(),
    "avro": set(),
    "npz": {"column_names", "batch_size", "with_row_index"},
}


def _read_shards(spark: SparkSession, files: list[str], **options) -> DataFrame:
    from .sources.archives import expand_paths

    by_fmt: dict[str, list[str]] = {}
    for f in expand_paths(files):  # S9: unpack zip/tar containers
        by_fmt.setdefault(readers.detect_format(f), []).append(f)
    unknown = set(options) - set().union(*_FMT_OPTIONS.values())
    if unknown:
        raise TypeError(f"load_dataset: unknown reader option(s) {sorted(unknown)}")
    if len(by_fmt) == 1:
        # homogeneous load: pass options through UNFILTERED so
        # read_files' strict leftover check raises on an option that
        # only another format understands (e.g. skip_rows= with
        # parquet files) instead of silently dropping it — the same
        # silent-ignore class the unknown-option check above exists
        # to eliminate. Only a genuinely mixed batch takes per-format
        # subsets (each format group legitimately ignores the
        # others' options there).
        fmt, fs = next(iter(by_fmt.items()))
        return readers.read_files(spark, fs, fmt=fmt, **options)
    dfs = [
        readers.read_files(
            spark, fs, fmt=fmt,
            **{k: v for k, v in options.items() if k in _FMT_OPTIONS[fmt]})
        for fmt, fs in by_fmt.items()
    ]
    return union_promote(dfs)


def load_dataset(
    path: str | None = None,
    data_files: list[str] | str | None = None,
    sample_metadata_files: list[str] | str | None = None,
    feature_metadata_files: list[str] | str | None = None,
    experiment_type: str | None = None,
    sample_column: str | None = None,
    batch_column: str | None = None,
    target_column: str | None = None,
    labels: list | None = None,
    positive_labels: list | None = None,
    negative_labels: list | None = None,
    add_missing_columns: bool = False,
    zero_as_missing: bool = False,
    split: "str | ReadInstruction | list | None" = None,
    spark: SparkSession | None = None,
    streaming: bool = False,
    **reader_options,
) -> BioDataset | dict[str, BioDataset]:
    if spark is None:
        from .session import get_spark

        spark = get_spark()

    # -- 1. plan: resolve files and splits (driver-side) --------------
    if path is not None and data_files is None:
        found = discovery.discover(path, spark=spark)
        data_files = found["data_files"]
        sample_metadata_files = sample_metadata_files or found["sample_metadata_files"]
        feature_metadata_files = feature_metadata_files or found["feature_metadata_files"]
    data_files = [data_files] if isinstance(data_files, str) else list(data_files or [])
    if not data_files:
        raise ValueError("load_dataset: no data files found")

    if streaming:
        # The reference raises NotImplementedError for
        # load_dataset(streaming=True) (reference load.py:135-139);
        # here it is a real Structured Streaming source: schema pinned
        # from a batch pre-scan of the discovered files, then a
        # file-arrival readStream over the directory — new files
        # matching the pattern are ingested as they land. Returns the
        # streaming DataFrame (metadata joins / label encoding are
        # batch-side concerns; compose them per micro-batch via
        # foreachBatch if needed).
        return _load_stream(spark, path, data_files, reader_options)
    if isinstance(sample_metadata_files, str):
        sample_metadata_files = [sample_metadata_files]
    if isinstance(feature_metadata_files, str):
        feature_metadata_files = [feature_metadata_files]

    splits = discovery.infer_splits(data_files)

    # -- feature metadata: small, collected once (J4) ------------------
    # Key-column resolution (reference biodata.py:670-686): (1) name
    # patterns; (2) J5 set containment — the first metadata column whose
    # VALUES contain every data feature column name (decided per split,
    # once the data columns are known); (3) first column + warning.
    feature_meta: dict[str, dict] | None = None
    feature_names_ordered: list[str] = []
    fm_rows: list[dict] | None = None
    fm_cols: list[str] = []
    if feature_metadata_files:
        fm_df = _read_shards(spark, list(feature_metadata_files))
        fm_cols = fm_df.columns
        # feature metadata is collected to the driver (one row per data
        # COLUMN — omics-scale tables have 1e3..1e5 features, a few MB).
        # Guard the collect so a file that is actually row-shaped data
        # (1e8 rows) can't silently balloon the driver: ONE
        # limit(cap+1) scan — the LIMIT bounds what ever reaches the
        # driver, overflow past the cap raises, and the warn threshold
        # is judged from the collected length (no separate count()
        # pre-scan of the metadata files; r5 ADVICE fix).
        collected = fm_df.limit(FEATURE_METADATA_HARD_CAP + 1).collect()
        if len(collected) > FEATURE_METADATA_HARD_CAP:
            raise ValueError(
                f"feature metadata has > hard cap "
                f"{FEATURE_METADATA_HARD_CAP} rows; this is row-shaped "
                "data, not per-column metadata — pass it as data_files "
                "or sample_metadata_files instead"
            )
        if len(collected) > FEATURE_METADATA_WARN_ROWS:
            warnings.warn(
                f"feature metadata has {len(collected)} rows (> "
                f"{FEATURE_METADATA_WARN_ROWS}); it is collected to the "
                "driver — expect substantial driver memory use"
            )
        fm_rows = [r.asDict(recursive=True) for r in collected]
        fm_key = _match_col(fm_cols, FEATURE_KEY_PATTERNS)
        if fm_key:
            feature_meta, feature_names_ordered = _feature_meta_from_rows(fm_rows, fm_key)

    out: dict[str, BioDataset] = {}
    feature_type = roles.EXPERIMENT_TYPES.get(experiment_type or "", None)
    multi_shard = len(data_files) > 1

    for split_name, files in splits.items():
        df = _read_shards(spark, files, **reader_options)

        # npz-style positional feature naming (biodata.py:1099-1124)
        unnamed = all(re.fullmatch(r"\d+|_c\d+", c) for c in df.columns)
        if unnamed and fm_rows is not None and feature_meta is None:
            # positional matrices can't containment-match (their columns
            # are synthetic); fall back to the first fm column as key
            warnings.warn(
                f"feature metadata key column inferred as {fm_cols[0]!r}; "
                "rename it to 'feature' to silence this warning"
            )
            feature_meta, feature_names_ordered = _feature_meta_from_rows(fm_rows, fm_cols[0])
        if unnamed and feature_names_ordered and len(feature_names_ordered) == len(df.columns):
            df = df.toDF(*feature_names_ordered)

        # -- 3. role inference -----------------------------------------
        s_col = sample_column or _match_col(df.columns, SAMPLE_PATTERNS)
        b_col = batch_column or _match_col(df.columns, BATCH_PATTERNS)
        t_col = target_column or _match_col(df.columns, TARGET_PATTERNS)

        # -- 4. sample-metadata enrichment -----------------------------
        # J5 containment must be decided against the DATA columns, not
        # the post-join frame — joined covariates (age, sex, ...) are
        # never in the feature-metadata key column's values and would
        # defeat containment for every candidate key.
        pre_enrich_cols = list(df.columns)
        if sample_metadata_files:
            meta = _read_shards(spark, list(sample_metadata_files))
            m_col = sample_column or _match_col(meta.columns, SAMPLE_PATTERNS)
            if s_col and m_col:
                df = _joins.join_sample_metadata(df, meta, s_col, m_col)
            else:
                # ambiguity-warning path (reference test_biodata.py:
                # 1270-1321 warns when the sample key cannot be matched)
                warnings.warn(
                    "no common sample column between data and metadata "
                    f"(data={s_col!r}, metadata={m_col!r}); falling back to positional alignment"
                )
                df = _joins.align_horizontal(df, meta)
                s_col = s_col or m_col if (s_col or m_col) in df.columns else s_col
            b_col = b_col or _match_col(df.columns, BATCH_PATTERNS)
            t_col = target_column or _match_col(df.columns, TARGET_PATTERNS)

        # -- tag roles ---------------------------------------------------
        # every column's tag is collected into one {column: updates}
        # dict and applied in ONE projection below (roles.with_roles)
        fields = df.schema.fields
        tags: dict[str, dict] = {}
        if s_col and s_col in df.columns:
            tags[s_col] = roles.role_updates(roles.ROLE_SAMPLE)
        if b_col and b_col in df.columns:
            tags[b_col] = roles.role_updates(roles.ROLE_BATCH)
        for c in df.columns:
            if c in (s_col, b_col, t_col):
                continue
            # columns the sample-metadata join brought in ARE metadata
            # regardless of their names (age/sex/... match no pattern;
            # they must not land in the feature matrix), plus anything
            # matching the metadata name patterns
            if c not in pre_enrich_cols or _match_col([c], METADATA_PATTERNS):
                tags[c] = roles.role_updates(roles.ROLE_METADATA)

        # J5: set-containment feature-key detection (biodata.py:681-686)
        # — no name-pattern key matched, so pick the first feature-
        # metadata column whose values contain every candidate data
        # feature column name, and key the per-column metadata by it.
        if fm_rows is not None and feature_meta is None:
            dfeat = {
                c for c in pre_enrich_cols
                if c not in (s_col, b_col, t_col) and not _match_col([c], METADATA_PATTERNS)
            }
            fm_key = next(
                (c for c in fm_cols if dfeat and dfeat <= {str(row[c]) for row in fm_rows}),
                None,
            )
            if fm_key is None:
                fm_key = fm_cols[0]
                warnings.warn(
                    f"feature metadata key column inferred as {fm_key!r} (no name-pattern "
                    "or value-containment match); rename it to 'feature' to silence this"
                )
            feature_meta, feature_names_ordered = _feature_meta_from_rows(fm_rows, fm_key)

        # feature columns: everything untagged; attach per-column metadata (J4)
        feature_tag = functools.partial(
            roles.role_updates, roles.ROLE_FEATURE,
            feature_type or "value_with_metadata")
        for f in fields:
            if (f.name not in tags and f.name != t_col
                    and (f.metadata or {}).get(roles.ROLE_KEY) is None):
                tags[f.name] = feature_tag(meta=(feature_meta or {}).get(f.name))
        if feature_meta:
            missing = set(feature_meta) - set(df.columns)
            if missing:
                warnings.warn(f"feature metadata rows with no matching data column: {sorted(missing)}")
        has_target = bool(t_col) and t_col in df.columns
        if has_target:
            tags[t_col] = roles.role_updates(roles.ROLE_TARGET)
        df = roles.with_roles(df, tags)

        # -- 5. label encoding (A1-A3) ----------------------------------
        if has_target:
            if _labels.task_type(df, t_col) == "classification" or positive_labels or negative_labels:
                if labels is None and not (positive_labels or negative_labels) and multi_shard:
                    # Reference errors on multi-file label inference
                    # without explicit labels (biodata.py:974-1023).
                    # This must also cover the multi-SPLIT case: a
                    # per-split inferred dictionary would assign
                    # DIFFERENT codes to the same label in train vs
                    # test when a split is missing a class.
                    raise ValueError(
                        "Multiple data files without explicit labels=: pass the full label "
                        "dictionary so codes are consistent across shards and splits."
                    )
                df, _ = _labels.encode_labels(
                    df, t_col, labels=labels,
                    positive_labels=positive_labels, negative_labels=negative_labels,
                )

        # add_missing_columns: fill declared-but-absent features, typed
        # like the experiment's registered feature dtype — a string (or
        # int-literal-0) column inside an otherwise-numeric feature
        # matrix breaks downstream assembly silently
        if add_missing_columns and feature_meta:
            fill_type = roles.FEATURE_TYPES.get(feature_type or "")
            if fill_type is not None:
                fill = (F.lit(0).cast(fill_type) if zero_as_missing
                        else F.lit(None).cast(fill_type))
            else:  # no registered dtype: legacy untyped fills
                fill = (F.lit(0) if zero_as_missing
                        else F.lit(None).cast(T.StringType()))
            present = set(df.columns)
            fills = [fill.alias(name, metadata=feature_tag(meta=feature_meta.get(name)))
                     for name in dict.fromkeys(feature_names_ordered) if name not in present]
            if fills:
                df = df.select("*", *fills)

        out[split_name] = BioDataset(df, split=split_name)

    if split is not None:
        if isinstance(split, (list, tuple)):
            # split list -> list of datasets (the k-fold pattern in
            # docs/DATA_LOADING.md:251-309)
            return [_apply_split_spec(out, s) for s in split]
        return _apply_split_spec(out, split)
    if len(out) == 1:
        return next(iter(out.values()))
    return BioDatasetDict(out)


def _apply_split_spec(out: dict[str, BioDataset], split) -> BioDataset:
    """Resolve one split spec (string grammar or ReadInstruction)
    against the loaded {split: BioDataset} map."""
    if isinstance(split, ReadInstruction):
        parts = [
            (name, a, b, unit == "%", rounding)
            for name, a, b, unit, rounding in split._parts
        ]
        label = split.to_spec()
    else:
        parts = discovery.parse_split_spec(split)
        label = split
    if len(parts) == 1 and parts[0][1] is None and parts[0][2] is None:
        return out[parts[0][0]]
    from .operators.split import slice_percent, slice_rows

    pieces = []
    for name, a, b, pct, rounding in parts:
        ds = out[name]
        if a is None and b is None:
            pieces.append(ds.df)
        elif pct:
            pieces.append(slice_percent(
                ds.df, a if a is not None else 0,
                b if b is not None else 100, rounding=rounding))
        else:
            pieces.append(slice_rows(ds.df, a or 0, b))
    merged = pieces[0]
    for p in pieces[1:]:
        merged = merged.unionByName(p, allowMissingColumns=True)
    return BioDataset(merged, split=label)


def _load_stream(spark, path, data_files, reader_options):
    """Streaming twin of the batch load path: extension-dispatched
    format, schema from a batch pre-scan (streaming sources require a
    pinned schema), glob limited to the data extension so metadata
    sidecar files never enter the stream."""
    import os

    from .sources.readers import detect_format, read_files
    from .streaming.ingest import read_stream

    fmt = detect_format(data_files[0])
    stream_fmt = {"csv": "csv", "tsv": "csv", "json": "json",
                  "parquet": "parquet", "orc": "orc"}.get(fmt)
    if stream_fmt is None:
        raise ValueError(
            f"load_dataset(streaming=True) supports csv/tsv/json/parquet/orc "
            f"file sources; got {fmt!r}"
        )
    schema = read_files(spark, data_files, **reader_options).schema
    ext = os.path.splitext(data_files[0])[1]
    # source resolution: a directory streams recursively with an
    # extension filter (a flat '*{ext}' glob missed files discovery
    # found in subdirectories); explicit data_files stream only as ONE
    # file — Spark's file source takes a single path/glob, and quietly
    # streaming data_files[0] while dropping the rest was silent data
    # loss (r7 review)
    extra = {}
    if path:
        src = path
        extra["pathGlobFilter"] = f"*{ext}"
        extra["recursiveFileLookup"] = "true"
    elif len(data_files) == 1:
        src = data_files[0]
    else:
        raise ValueError(
            "load_dataset(streaming=True) streams a directory (path=) or "
            f"a single file; got {len(data_files)} explicit data_files — "
            "point path= at their directory instead"
        )
    # translate biosets reader options to Spark stream options; batch
    # and stream reads of the same files must not silently diverge, so
    # anything untranslatable raises
    opts = dict(reader_options)
    field = opts.pop("field", None) if fmt == "json" else None
    options = dict(extra)
    if stream_fmt == "csv":
        options["header"] = str(opts.pop("header", True)).lower()
        options["sep"] = opts.pop("sep", "\t" if fmt == "tsv" else ",")
        if "encoding" in opts:
            options["encoding"] = opts.pop("encoding")
        if "quote_char" in opts:
            options["quote"] = opts.pop("quote_char")
        nulls = opts.pop("null_values", None)
        if nulls:
            options["nullValue"] = nulls[0]
            if len(nulls) > 1:
                raise ValueError(
                    "streaming CSV supports a single nullValue; got "
                    f"{nulls} — normalize extra sentinels downstream"
                )
        opts.pop("infer_schema", None)  # schema is pinned by the pre-scan
    opts.pop("schema", None)
    opts.pop("merge_schema", None)
    if opts:
        raise ValueError(
            f"load_dataset(streaming=True): reader option(s) "
            f"{sorted(opts)} have no streaming translation"
        )
    stream = read_stream(spark, src, fmt=stream_fmt, schema=schema, **options)
    if field:
        stream = stream.select(F.explode(F.col(field)).alias("_rec")).select("_rec.*")
    return stream
