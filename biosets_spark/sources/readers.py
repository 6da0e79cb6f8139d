"""File readers: extension dispatch over Spark's native sources.

Reference semantics (SURVEY §2.1): CSV/TSV/TXT with
sep/quote/null/skip-rows/encoding options (csv/csv.py:26-92,147-218),
JSON/JSONL, Parquet, Arrow IPC, sparse NPZ (sources/npz.py), plus
gz/bz2/zstd transparently (biodata.py:1607-1616).

Spark mapping: every text/columnar format is a native DataSource scan —
partitioned, predicate-pushdown-capable, schema-merging. The 50k-row
batching of the reference (csv.py:27) is subsumed by Spark's partition
and row-group streaming. Arrow IPC files are read via pyarrow on the
driver and parallelized (Arrow is an interchange format here; the
at-scale storage format is Parquet). ``read_files`` resolves each
unchanged local input once per session (sources/relations.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import relations

TEXT_EXTS = {".csv", ".tsv", ".txt"}
COMPRESSION_EXTS = {".gz", ".bz2", ".zst", ".zstd", ".lz4", ".deflate"}


def _strip_compression(path: str) -> str:
    base, ext = os.path.splitext(path)
    if ext.lower() in COMPRESSION_EXTS:
        return base
    return path


def detect_format(path: str) -> str:
    ext = os.path.splitext(_strip_compression(path))[1].lower()
    if not ext and os.path.isdir(path):
        # a datasource output directory (part files inside carry the
        # extension): sniff the first data file so sink outputs round-
        # trip through read_files without the caller globbing parts
        for entry in sorted(os.listdir(path)):
            if entry.startswith((".", "_")):
                continue
            try:
                return detect_format(os.path.join(path, entry))
            except ValueError:
                continue
        raise ValueError(f"No recognizable data files in directory {path!r}")
    if ext in (".csv",):
        return "csv"
    if ext in (".tsv", ".txt"):
        return "tsv"
    if ext in (".json", ".jsonl", ".ndjson"):
        return "json"
    if ext in (".parquet", ".pq"):
        return "parquet"
    if ext in (".arrow", ".feather", ".ipc"):
        return "arrow"
    if ext == ".npz":
        return "npz"
    if ext == ".orc":
        return "orc"
    if ext == ".avro":
        return "avro"
    raise ValueError(f"Unsupported file extension for {path!r}")


def read_csv(
    spark: SparkSession,
    paths: list[str] | str,
    sep: str = ",",
    header: bool = True,
    schema: T.StructType | None = None,
    null_values: list[str] | None = None,
    skip_rows: int = 0,
    encoding: str = "utf-8",
    quote_char: str = '"',
    infer_schema: bool = True,
    column_names: list[str] | None = None,
) -> DataFrame:
    """S1/S2: CSV/TSV scan with the reference's reader options
    (csv/csv.py:26-92 CsvConfig)."""
    # Spark has no Hadoop XZ codec: a 'native' read of .csv.xz parses
    # the COMPRESSED BYTES as rows with no error (r8 review, verified).
    # load_dataset decompresses driver-side via expand_paths, and
    # skip_rows>0 decompresses into scratch copies below; the remaining
    # direct path gets a loud error instead of garbage rows.
    if not skip_rows:
        _bad = [p for p in (paths if isinstance(paths, list) else [paths])
                if str(p).lower().endswith(".xz")]
        if _bad:
            raise ValueError(
                f"Spark cannot read xz-compressed text natively: {_bad[:4]} "
                "— load through load_dataset (which decompresses "
                "driver-side) or decompress first"
            )
    # Spark's CSVOptions accepts only canonical charset names; map the
    # common python-style aliases so encoding='latin-1' works
    _CHARSET_ALIASES = {
        "latin-1": "iso-8859-1", "latin1": "iso-8859-1",
        "utf8": "utf-8", "utf16": "utf-16", "utf32": "utf-32",
    }
    encoding = _CHARSET_ALIASES.get(
        (encoding or "utf-8").lower().replace("_", "-"), encoding)
    reader = (
        spark.read.option("header", header)
        .option("sep", sep)
        .option("encoding", encoding)
        .option("quote", quote_char or '"')
        .option("mode", "PERMISSIVE")
    )
    if null_values:
        reader = reader.option("nullValue", null_values[0])
    if skip_rows:
        # Spark CSV has no skip-rows option; strip leading lines into
        # scratch copies (driver-side — junk-prefixed CSVs are small
        # config-style inputs; the 100 TB path is headerless Parquet)
        paths = _strip_leading_rows(
            paths if isinstance(paths, list) else [paths], skip_rows,
            encoding=encoding)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", True)
    df = reader.csv(paths if isinstance(paths, list) else [paths])
    if null_values and len(null_values) > 1:
        # Spark CSV honors a single nullValue; additional sentinels are
        # normalized post-read. String-typed columns get an explicit
        # replacement; typed columns under an explicit schema already
        # turn unparsable sentinels into null (PERMISSIVE mode).
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        extras = null_values[1:]
        df = df.select(*[
            F.when(F.col(f.name).isin(extras), F.lit(None)).otherwise(F.col(f.name)).alias(f.name)
            if isinstance(f.dataType, T.StringType) else F.col(f.name)
            for f in df.schema.fields
        ])
    if column_names:
        df = df.toDF(*column_names)
    return df


def _strip_leading_rows(paths: list[str], n: int,
                        encoding: str = "utf-8") -> list[str]:
    """Copy each file minus its first ``n`` lines into scratch,
    BYTE-faithfully: lines are split on b'\\n' with no decode/re-encode
    (a latin-1 file must not be round-tripped through UTF-8), and
    compressed inputs are decompressed first — Spark would otherwise
    be handed a scratch file whose bytes were a text-mode mangling of
    the gzip stream. The scratch copy is plain uncompressed bytes in
    the ORIGINAL encoding, so the caller's encoding option still
    applies."""
    import bz2
    import gzip
    import lzma
    import tempfile

    openers = {".gz": gzip.open, ".bz2": bz2.open, ".xz": lzma.open}
    out = []
    scratch = tempfile.mkdtemp(prefix="biosets_skiprows_")
    for i, p in enumerate(paths):
        ext = os.path.splitext(p)[1].lower()
        op = openers.get(ext, open)
        base = os.path.basename(p)
        if ext in openers:
            base = os.path.splitext(base)[0]
        dest = os.path.join(scratch, f"{i}_{base}")
        enc = (encoding or "utf-8").lower().replace("_", "-")
        if enc.startswith(("utf-16", "utf-32")):
            # multi-byte newlines: binary b'\n' splitting would cut
            # mid-code-unit; decode/re-encode with the DECLARED encoding
            with op(p, "rt", encoding=encoding) as src, \
                    open(dest, "w", encoding=encoding) as dst:
                for j, line in enumerate(src):
                    if j >= n:
                        dst.write(line)
        else:
            with op(p, "rb") as src, open(dest, "wb") as dst:
                for j, line in enumerate(src):
                    if j >= n:
                        dst.write(line)
        out.append(dest)
    return out


def read_json(spark: SparkSession, paths: list[str] | str, field: str | None = None) -> DataFrame:
    """S3: JSON/JSONL scan; ``field=`` selects a nested record list
    (docs/DATA_LOADING.md:55-93)."""
    paths = paths if isinstance(paths, list) else [paths]
    # Spark has no Hadoop XZ/zstd codec: a 'native' read of .json.xz
    # returns null rows with no error (r8 review). load_dataset
    # decompresses these driver-side via sources.archives.expand_paths;
    # direct read_json callers get a loud error, not silent nulls.
    bad = [p for p in paths if p.lower().endswith((".xz", ".zst", ".zstd"))]
    if bad:
        raise ValueError(
            f"Spark cannot read xz/zstd-compressed JSON natively: {bad[:4]} "
            "— load through load_dataset (which decompresses driver-side) "
            "or decompress first"
        )
    # plain .json may be a single pretty-printed document; probe EVERY
    # .json path (one readline per file — a capped sample would let a
    # pretty-printed file past the cap be silently mis-parsed, the
    # exact failure this check exists to prevent) and refuse a mixed
    # batch instead of mis-parsing half of it
    verdicts = {
        p: v for p in paths
        if os.path.splitext(_strip_compression(p))[1].lower() == ".json"
        and (v := _looks_multiline_json(p, spark)) is not None
    }
    modes = set(verdicts.values())
    if len(modes) > 1:
        ml = [p for p, v in verdicts.items() if v][:8]
        jl = [p for p, v in verdicts.items() if not v][:8]
        raise ValueError(
            "read_json got a mix of JSONL and multiLine .json files — "
            "Spark reads one mode per scan; split the load. "
            f"multiLine examples: {ml}; jsonl examples: {jl}"
        )
    multiline = modes.pop() if modes else False
    df = spark.read.option("multiLine", multiline).json(paths)
    if field:
        from pyspark.sql import functions as F

        df = df.select(F.explode(F.col(field)).alias("_rec")).select("_rec.*")
    return df


def _looks_multiline_json(path: str, spark: SparkSession | None = None):
    """A .json file is multiLine (one pretty-printed document) iff its
    first line is NOT itself valid JSON; a JSONL file's first line is a
    complete record. Returns True/False, or None when the file can't
    be probed at all. Local open is tried first; on failure (remote
    URI — s3a://, hdfs://) the first line is probed through Spark's
    text reader instead of silently defaulting to JSONL."""
    import bz2
    import gzip
    import json
    import lzma

    first = None
    try:
        # match the compression handling of the read itself: probing a
        # .json.bz2/.xz with plain open() would read compressed bytes,
        # fail json.loads on garbage, and mis-verdict JSONL as
        # multiLine (r8 review)
        openers = {".gz": gzip.open, ".bz2": bz2.open, ".xz": lzma.open}
        op = openers.get(os.path.splitext(path)[1].lower(), open)
        with op(path, "rt", errors="ignore") as f:
            first = f.readline().strip()
    except Exception:
        if spark is not None:
            try:
                row = spark.read.text(path).limit(1).collect()
                first = row[0][0].strip() if row else ""
            except Exception:
                return None
        else:
            return None
    if not first:
        return True
    try:
        json.loads(first)
        return False  # first line parses alone -> JSONL / single-line JSON
    except ValueError:
        return True


def read_arrow(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """S5: Arrow IPC scan. Reads via pyarrow and hands the table to
    Spark through Arrow interchange (Spark 4 createDataFrame accepts
    pa.Table zero-copy)."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    paths = paths if isinstance(paths, list) else [paths]
    tables = []
    for p in paths:
        try:
            with ipc.open_file(p) as r:
                tables.append(r.read_all())
        except pa.lib.ArrowInvalid:
            with ipc.open_stream(p) as r:
                tables.append(r.read_all())
    table = pa.concat_tables(tables, promote_options="permissive")
    return spark.createDataFrame(table)


def read_parquet(spark: SparkSession, paths: list[str] | str,
                 merge_schema: bool = True,
                 schema: T.StructType | None = None) -> DataFrame:
    """S4: Parquet scan; mergeSchema covers the reference's cross-shard
    schema unification for the common case; an explicit ``schema``
    pins types and skips footer merging entirely."""
    paths = paths if isinstance(paths, list) else [paths]
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("mergeSchema", merge_schema)
    return reader.parquet(*paths)


def read_sql(spark: SparkSession, table_or_query: str, url: str, **options) -> DataFrame:
    """S7: JDBC source (``Dataset.from_sql`` analogue,
    docs/DATA_LOADING.md:151-160)."""
    dbtable = table_or_query
    if " " in table_or_query.strip():
        # letter-leading alias: some engines (Derby) reject identifiers
        # starting with an underscore
        dbtable = f"({table_or_query}) AS sparkgraft_subq"
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", dbtable)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


# formats Spark resolves itself, memoized by read_files. arrow and npz
# reads, and the pure-Python avro fallback, hold driver-side data.
_MEMO_FORMATS = frozenset({"csv", "tsv", "json", "parquet", "orc"})

# session confs that schema resolution reads: CSV/JSON timestamp
# inference, header and column-name case handling, Parquet's logical
# type mapping, and partition-column typing of directory inputs
_SCHEMA_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.timestampType",
    "spark.sql.legacy.timeParserPolicy",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)


def _option_key(value):
    """A reader option as a hashable memo-key part; a schema keys by
    its JSON."""
    if isinstance(value, T.DataType):
        return value.json()
    if isinstance(value, dict):
        return tuple(sorted((k, _option_key(v)) for k, v in value.items()))
    if isinstance(value, (list, tuple)):
        return tuple(_option_key(v) for v in value)
    return value


def read_files(
    spark: SparkSession,
    files: list[str] | str,
    fmt: str | None = None,
    **options,
) -> DataFrame:
    """Extension-dispatch reader (the reference's EXTENSION_TO_BUILDER
    map, biodata.py:187-196). All files in one call must share a
    format; heterogeneous inputs are grouped by the caller
    (load.py) and unioned with schema promotion.

    csv/tsv/json/parquet/orc reads go through the source-relation memo
    (sources/relations.py): reading files unchanged since their last
    read in this session, with the same options and schema-relevant
    confs, returns the relation resolved then, with no header,
    inference or footer job. Paths the driver cannot stat (remote or
    ``file://`` URIs, globs) are resolved on every call."""
    files = files if isinstance(files, list) else [files]
    fmt = fmt or detect_format(files[0])
    if fmt in _MEMO_FORMATS:
        snapshot = tuple(relations.path_snapshot(f) for f in files)
        if all(snapshot):
            identity = ("read_files", fmt, tuple(files), _option_key(options),
                        tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
            return relations.relation(
                spark, identity, snapshot,
                lambda: _read_files(spark, files, fmt, options))
    return _read_files(spark, files, fmt, options)


def _read_files(spark: SparkSession, files: list[str], fmt: str,
                options: dict) -> DataFrame:
    if fmt == "csv":
        return read_csv(spark, files, **options)
    if fmt == "tsv":
        options.setdefault("sep", "\t")
        return read_csv(spark, files, **options)
    # formats below accept a bounded option set; anything left over is
    # an ERROR, not a silent drop — an ignored schema= or skip_rows=
    # produces a differently-typed DataFrame with no warning (r7 review)
    def _reject_unused(opts: dict, which: str) -> None:
        if opts:
            raise TypeError(
                f"read_files: options {sorted(opts)} are not supported "
                f"for format {which!r}"
            )

    if fmt == "json":
        field = options.pop("field", None)
        _reject_unused(options, fmt)
        return read_json(spark, files, field=field)
    if fmt == "parquet":
        merge_schema = options.pop("merge_schema", True)
        schema = options.pop("schema", None)
        _reject_unused(options, fmt)
        return read_parquet(spark, files, merge_schema=merge_schema,
                            schema=schema)
    if fmt == "arrow":
        _reject_unused(options, fmt)
        return read_arrow(spark, files)
    if fmt == "npz":
        from .npz import read_npz

        return read_npz(spark, files, **options)
    if fmt == "orc":
        # built into Spark (no extra jar); columnar with predicate
        # pushdown like parquet
        schema = options.pop("schema", None)
        _reject_unused(options, fmt)
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.orc(*files)
    if fmt == "avro":
        _reject_unused(options, fmt)
        # spark-avro is a SEPARATE artifact; prefer it when registered
        # (JVM-side, splits large files on sync markers), else fall
        # back to the dependency-free pure-Python container reader
        # (per-file parallelism — see sources/avro_py.py docstring).
        try:
            return spark.read.format("avro").load(files)
        except Exception as e:
            # fall back ONLY on the missing-datasource failure; a real
            # load error (bad path, permissions) from a registered
            # spark-avro must surface as itself, not as a confusing
            # secondary failure from the fallback (r6 review)
            msg = str(e)
            if not (
                "DATA_SOURCE_NOT_FOUND" in msg
                or "Failed to find data source" in msg
                or "Failed to find the data source" in msg
            ):
                raise
            from .avro_py import read_avro_py

            return read_avro_py(spark, files)
    raise ValueError(f"Unsupported format {fmt!r}")
