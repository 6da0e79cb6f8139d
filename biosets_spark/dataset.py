"""BioDataset: a DataFrame + role-annotated schema.

The Spark analogue of the reference's ``Bioset`` (subclass of
datasets.Dataset, arrow_dataset.py:26-138): a thin wrapper holding a
DataFrame whose StructField metadata carries semantic roles, exposing
the inherited transform surface (select/filter/map/sort/...) and the
role-based accessors (get_data/get_target/get_sample_metadata/decode,
arrow_dataset.py:141-252).

Everything delegates to DataFrame ops so Catalyst owns optimization;
the wrapper adds only role bookkeeping.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators import labels as _labels
from .operators import split as _split
from .schema import roles


def _default_spark():
    from .session import get_spark

    return get_spark()


class BioDataset:
    def __init__(self, df: DataFrame, split: str = "train", fingerprint: str | None = None):
        self.df = df
        self.split = split
        self.fingerprint = fingerprint

    # ---- in-memory constructors (S8, docs/DATA_LOADING.md:175-248) --
    @classmethod
    def from_dict(cls, data: dict, spark=None, split: str = "train") -> "BioDataset":
        """{column: [values]} -> dataset (Dataset.from_dict analogue)."""
        spark = spark or _default_spark()
        cols = list(data.keys())
        lengths = {c: len(data[c]) for c in cols}
        if len(set(lengths.values())) > 1:
            # zip() would silently truncate every column to the
            # shortest list — refuse, like the reference Dataset
            raise ValueError(
                f"from_dict: unequal column lengths {lengths}"
            )
        rows = list(zip(*[data[c] for c in cols])) if cols else []
        return cls(spark.createDataFrame(rows, schema=cols), split=split)

    @classmethod
    def from_list(cls, rows: list[dict], spark=None, split: str = "train") -> "BioDataset":
        """[{column: value}] -> dataset (Dataset.from_list analogue)."""
        spark = spark or _default_spark()
        return cls(spark.createDataFrame(rows), split=split)

    @classmethod
    def from_pandas(cls, pdf, spark=None, split: str = "train") -> "BioDataset":
        spark = spark or _default_spark()
        return cls(spark.createDataFrame(pdf), split=split)

    @classmethod
    def from_generator(cls, gen: Callable, schema: T.StructType | str | None = None,
                       spark=None, split: str = "train",
                       batch_size: int = 50_000) -> "BioDataset":
        """Generator of row dicts -> dataset (Dataset.from_generator
        analogue). The generator runs on the driver but is consumed in
        ``batch_size`` chunks (the reference's 50k reader batch,
        csv.py:27) with one ``createDataFrame`` per chunk unioned
        lazily — driver memory holds ONE chunk, not the whole stream.
        For inputs that don't fit a driver at all, write shards and
        use load_dataset()."""
        import itertools

        spark = spark or _default_spark()
        it = iter(gen())
        df = None
        eff_schema = schema
        while True:
            chunk = list(itertools.islice(it, batch_size))
            if not chunk:
                break
            part = (spark.createDataFrame(chunk, schema=eff_schema)
                    if eff_schema else spark.createDataFrame(chunk))
            if eff_schema is None:
                # pin the first chunk's inferred schema so later chunks
                # can't drift (the reference pins features after batch 1)
                eff_schema = part.schema
            df = part if df is None else df.unionByName(part)
        if df is None:
            if schema is None:
                raise ValueError("from_generator: empty generator needs schema=")
            df = spark.createDataFrame([], schema=schema)
        return cls(df, split=split)

    @classmethod
    def from_csv(cls, paths, spark=None, split: str = "train", **options) -> "BioDataset":
        """Dataset.from_csv analogue: extension-dispatch CSV scan."""
        from .sources.readers import read_csv

        spark = spark or _default_spark()
        paths = [paths] if isinstance(paths, str) else list(paths)
        return cls(read_csv(spark, paths, **options), split=split)

    @classmethod
    def from_json(cls, paths, spark=None, split: str = "train", **options) -> "BioDataset":
        """Dataset.from_json analogue (JSON/JSONL, nested field=)."""
        from .sources.readers import read_json

        spark = spark or _default_spark()
        paths = [paths] if isinstance(paths, str) else list(paths)
        return cls(read_json(spark, paths, **options), split=split)

    @classmethod
    def from_parquet(cls, paths, spark=None, split: str = "train") -> "BioDataset":
        """Dataset.from_parquet analogue."""
        from .sources.readers import read_parquet

        spark = spark or _default_spark()
        paths = [paths] if isinstance(paths, str) else list(paths)
        return cls(read_parquet(spark, paths), split=split)

    # ---- basic info -------------------------------------------------
    @property
    def columns(self) -> list[str]:
        return self.df.columns

    @property
    def num_rows(self) -> int:
        return self.df.count()

    @property
    def schema(self) -> T.StructType:
        return self.df.schema

    def _wrap(self, df: DataFrame) -> "BioDataset":
        out = BioDataset(df, split=self.split, fingerprint=None)
        # observations are recorded on the PLAN (DataFrame.observe
        # survives transforms), so the handle map must survive too —
        # otherwise get_observation() after any transform returns {}
        obs = getattr(self, "_observations", None)
        if obs:
            out._observations = dict(obs)
        return out

    # ---- projections / renames (P1-P4, arrow_dataset.py:93-121) -----
    def select_columns(self, cols: list[str]) -> "BioDataset":
        return self._wrap(self.df.select(*cols))

    def remove_columns(self, cols: list[str] | str) -> "BioDataset":
        cols = [cols] if isinstance(cols, str) else cols
        return self._wrap(self.df.drop(*cols))

    def rename_column(self, old: str, new: str) -> "BioDataset":
        return self._wrap(self.df.withColumnRenamed(old, new))

    def rename_columns(self, mapping: dict[str, str]) -> "BioDataset":
        return self._wrap(self.df.withColumnsRenamed(mapping))

    def set_column_names(self, names: list[str]) -> "BioDataset":
        """P4: positional wholesale rename (npz feature naming,
        biodata.py:1098-1124)."""
        return self._wrap(self.df.toDF(*names))

    # ---- row ops (P6-P8, O1-O5) --------------------------------------
    def filter(self, predicate, batched: bool = False) -> "BioDataset":
        """P6: Column/SQL-string predicates stay in Catalyst; Python
        callables run as Arrow-batched pandas filters.

        ``batched=True`` is the documented fast path for opaque
        predicates: the callable receives a whole ``pandas.DataFrame``
        and returns a boolean mask (vectorized, one call per Arrow
        batch). ``batched=False`` (reference default semantics,
        arrow_dataset.py:77-79) calls the predicate once per row with a
        dict — ~100x slower; keep it off the 100 TB path.
        """
        if callable(predicate):
            schema = self.df.schema
            if batched:
                def fn(it: Iterator) -> Iterator:
                    for pdf in it:
                        yield pdf[predicate(pdf)]
            else:
                def fn(it: Iterator) -> Iterator:
                    for pdf in it:
                        yield pdf[pdf.apply(lambda row: predicate(row.to_dict()), axis=1)]

            return self._wrap(self.df.mapInPandas(fn, schema=schema))
        return self._wrap(self.df.filter(predicate))

    def map(self, fn: Callable | None = None, output_schema: T.StructType | str | None = None,
            exprs: dict[str, object] | None = None) -> "BioDataset":
        """P7: transform. Prefer ``exprs`` ({name: Column}) — pure
        Catalyst. A Python ``fn`` (pandas.DataFrame -> pandas.DataFrame)
        runs via mapInPandas with an explicit output schema (the
        reference's batched map, arrow_dataset.py:89-91)."""
        if exprs is not None:
            return self._wrap(self.df.withColumns(exprs))
        if fn is None:
            raise ValueError("map: provide exprs= or fn=")
        schema = output_schema or self.df.schema

        def gen(it: Iterator) -> Iterator:
            for pdf in it:
                yield fn(pdf)

        return self._wrap(self.df.mapInPandas(gen, schema=schema))

    def sort(self, cols: list[str] | str, reverse: bool = False,
             null_placement: str = "at_end") -> "BioDataset":
        cols = [cols] if isinstance(cols, str) else cols
        def key(c):
            if reverse:
                return F.col(c).desc_nulls_last() if null_placement == "at_end" else F.col(c).desc_nulls_first()
            return F.col(c).asc_nulls_last() if null_placement == "at_end" else F.col(c).asc_nulls_first()
        return self._wrap(self.df.orderBy(*[key(c) for c in cols]))

    def shuffle(self, seed: int | None = None) -> "BioDataset":
        return self._wrap(_split.shuffle(self.df, seed))

    def select(self, indices, order_by: list[str] | None = None) -> "BioDataset":
        if isinstance(indices, str):
            return self.slice(indices, order_by)
        if isinstance(indices, range) and indices.step == 1:
            # the contiguous fast path; stepped/reversed ranges carry
            # real index semantics and go through select_indices
            return self._wrap(_split.slice_rows(self.df, indices.start, indices.stop, order_by))
        return self._wrap(_split.select_indices(self.df, list(indices), order_by))

    def slice(self, spec: str, order_by: list[str] | None = None) -> "BioDataset":
        """Percent/absolute slice strings on the dataset itself —
        ``ds.slice("10%:20%")``, ``ds.slice(":10%")``, ``ds.slice("10:20")``,
        ``ds.slice("-80%:")``, ``ds.slice("[50%:52%](pct1_dropremainder)")``,
        with or without brackets (``"[:10%]"``). Same grammar as
        ``load_dataset(split="train[:10%]")`` (reference
        docs/DATA_LOADING.md:251-309), built on the limit/offset
        slicing in operators.split."""
        import re

        m = re.fullmatch(r"\[?(-?\d*)(%?):(-?\d*)(%?)\]?(?:\((\w+)\))?", spec.strip())
        if not m:
            raise ValueError(f"Bad slice spec {spec!r} — expected 'a:b' or 'a%:b%'")
        a, ap, b, bp, rounding = m.groups()
        start = int(a) if a else None
        stop = int(b) if b else None
        if a and b and bool(ap) != bool(bp):
            # same contract as discovery.parse_split_spec: treating
            # '5:50%' as all-percent silently returns the wrong rows
            raise ValueError(
                f"Mixed absolute/percent bounds in slice {spec!r}; "
                "use '5:500' or '5%:50%'"
            )
        if ap or bp:
            return self._wrap(_split.slice_percent(
                self.df, start if start is not None else 0,
                stop if stop is not None else 100, order_by,
                rounding=rounding or "closest"))
        if rounding:
            raise ValueError(f"rounding {rounding!r} applies to percent slices only")
        return self._wrap(_split.slice_rows(self.df, start or 0, stop, order_by))

    def head(self, n: int = 5) -> list[dict]:
        return [r.asDict(recursive=True) for r in self.df.limit(n).collect()]

    def train_test_split(self, test_size: float = 0.25, seed: int | None = None,
                         stratify_by_column: str | None = None) -> "BioDatasetDict":
        parts = _split.train_test_split(self.df, test_size, seed, stratify_by_column)
        return BioDatasetDict(
            {k: BioDataset(v, split=k) for k, v in parts.items()})

    # ---- casts / structure (P9-P10) ----------------------------------
    def cast_column(self, col: str, dtype: T.DataType | str,
                    feature_type: str | None = None) -> "BioDataset":
        # a cast drops the column's metadata, so it is re-attached in
        # the same projection
        updates = {roles.FEATURE_TYPE_KEY: feature_type} if feature_type else {}
        return self._wrap(roles.with_roles(
            self.df, {col: updates}, exprs={col: roles.qcol(col).cast(dtype)}))

    def flatten(self) -> "BioDataset":
        """P9: recursively explode struct columns into ``parent.child``
        top-level columns (table_util.py:310-330)."""
        df = self.df
        while True:
            struct_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StructType)]
            if not struct_cols:
                return self._wrap(df)
            cols = []
            for f in df.schema.fields:
                if isinstance(f.dataType, T.StructType):
                    for sub in f.dataType.fields:
                        cols.append(F.col(f"`{f.name}`.`{sub.name}`").alias(f"{f.name}.{sub.name}"))
                else:
                    cols.append(F.col(f"`{f.name}`"))
            df = df.select(*cols)

    # ---- role-based accessors (V1, arrow_dataset.py:141-252) ---------
    def get_sample_col_name(self) -> str | None:
        cols = roles.columns_with_role(self.df, roles.ROLE_SAMPLE)
        return cols[0] if cols else None

    def get_target_col_names(self) -> list[str]:
        return roles.columns_with_role(self.df, roles.ROLE_TARGET)

    def get_data(self) -> "BioDataset":
        cols = roles.columns_with_role(self.df, roles.ROLE_FEATURE)
        return self._wrap(self.df.select(*cols)) if cols else self

    def get_target(self) -> "BioDataset":
        cols = self.get_target_col_names()
        if not cols:
            raise ValueError("no target columns tagged")
        return self._wrap(self.df.select(*cols))

    def get_sample_metadata(self) -> "BioDataset":
        cols = roles.columns_with_role(self.df, roles.ROLE_SAMPLE, roles.ROLE_BATCH, roles.ROLE_METADATA)
        return self._wrap(self.df.select(*cols))

    def get_feature_metadata(self) -> dict[str, dict]:
        return {
            f.name: roles.get_feature_meta(self.df, f.name)
            for f in self.df.schema.fields
            if (f.metadata or {}).get(roles.ROLE_KEY) == roles.ROLE_FEATURE
        }

    def decode(self, col: str | None = None) -> "BioDataset":
        if col is None:
            with_labels = [c for c in self.get_target_col_names() if roles.get_labels(self.df, c)]
            col = (with_labels or [_labels.TARGET_COLUMN])[0]
        return self._wrap(_labels.decode(self.df, col))

    def shard(self, num_shards: int, index: int,
              order_by: list[str] | None = None,
              contiguous: bool = True) -> "BioDataset":
        """Dataset.shard analogue: the ``index``-th of ``num_shards``
        near-equal pieces (distributed-training data parallelism).

        ``contiguous=True`` (reference default semantics): shard i is
        rows [i*q + min(i, r), ...] of the ordered frame — the NTILE
        allocation, computed from a JVM row index (no global window).
        ``contiguous=False``: round-robin by ``row_id %% num_shards``
        (better size balance under sorted-key skew). Both need a
        defined order: pass ``order_by`` or accept partition order.
        """
        if not 0 <= index < num_shards:
            raise ValueError(f"index must be in [0, {num_shards}), got {index}")
        from .operators.joins import zip_with_index_counted
        from .operators.split import kfold_assign

        if contiguous:
            assigned = kfold_assign(self.df, num_shards, order_by=order_by,
                                    fold_col="_shard")
            out = assigned.filter(F.col("_shard") == index + 1).drop("_shard")
        else:
            with_id, _ = zip_with_index_counted(self.df, order_by=order_by,
                                                col_name="_shard_id")
            out = (with_id.filter(F.pmod(F.col("_shard_id"), F.lit(num_shards))
                                  == index).drop("_shard_id"))
        return self._wrap(out)

    def class_encode_column(self, column: str) -> "BioDataset":
        """Dataset.class_encode_column analogue: encode a string column
        as integer class labels via the sorted-distinct dictionary
        (appends ``encoded_labels``; the original column is kept and
        role-tagged as target)."""
        out, _ = _labels.encode_labels(self.df, column)
        return self._wrap(out)

    def flatten_indices(self, cache_dir: str | None = None) -> "BioDataset":
        """Reference flatten_indices analogue. Spark plans have no
        indices mapping to flatten; with ``cache_dir`` this materializes
        the plan into the fingerprint cache (the real analogue of
        rewriting the arrow table), else it is a no-op returning self.
        """
        return self.materialize(cache_dir) if cache_dir else self

    # ---- persistence --------------------------------------------------
    def save_to_disk(self, path: str) -> None:
        from .sources.sink import save_to_disk

        save_to_disk(self.df, path, fingerprint=self.fingerprint)

    def to_csv(self, path: str, mode: str = "overwrite", header: bool = True,
               single_file: bool = False) -> None:
        """Dataset.to_csv analogue — a DISTRIBUTED csv write (a
        directory of part files; ``single_file=True`` coalesces to one
        part for interop at small scale — never do that at 100 TB)."""
        df = self.df.coalesce(1) if single_file else self.df
        df.write.mode(mode).option("header", str(header).lower()).csv(path)

    def to_json(self, path: str, mode: str = "overwrite",
                single_file: bool = False) -> None:
        """Dataset.to_json analogue (JSON Lines part files)."""
        df = self.df.coalesce(1) if single_file else self.df
        df.write.mode(mode).json(path)

    def to_parquet(self, path: str, mode: str = "overwrite",
                   partition_by: list[str] | str | None = None) -> None:
        """Dataset.to_parquet analogue; ``partition_by`` writes the
        hive layout for partition-pruned scans (see sources/sink.py)."""
        from .sources.sink import save_to_disk

        save_to_disk(self.df, path, fingerprint=self.fingerprint,
                     mode=mode, partition_by=partition_by)

    def to_sql(self, table: str, url: str, mode: str = "overwrite",
               batchsize: int = 10000, num_partitions: int | None = None,
               **options) -> None:
        """Dataset.to_sql analogue — distributed JDBC write (each
        Spark partition opens one connection and batches inserts;
        ``num_partitions`` caps the concurrent connections, the lever
        that matters when the target DB melts under one connection
        per core at cluster scale). Mirrors read_sql
        (sources/readers.py:203) for the roundtrip."""
        df = self.df
        if num_partitions is not None and df.rdd.getNumPartitions() > num_partitions:
            df = df.coalesce(num_partitions)
        w = (df.write.format("jdbc").mode(mode)
             .option("url", url).option("dbtable", table)
             .option("batchsize", str(batchsize)))
        for k, v in options.items():
            w = w.option(k, v)
        w.save()

    def to_orc(self, path: str, mode: str = "overwrite",
               partition_by: list[str] | str | None = None,
               compression: str = "zlib") -> None:
        """Distributed ORC write (Spark-native datasource, built in —
        unlike Avro there is no artifact gap). Completes the read/write
        roundtrip for every format ``load_dataset`` discovers
        (parquet/csv/json/arrow/avro/orc). ``partition_by`` writes the
        hive layout so ORC scans get partition pruning like the parquet
        sink's."""
        w = self.df.write.mode(mode).option("compression", compression)
        if partition_by:
            cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
            w = w.partitionBy(*cols)
        w.orc(path)

    def to_avro(self, path: str, codec: str = "deflate") -> int:
        """Distributed Avro write (one container file per partition).
        Uses the JVM spark-avro datasource when registered, else the
        dependency-free sink (sources/avro_py.py — local/shared FS).
        Returns the number of part files written by the fallback (0
        means the JVM datasource handled it)."""
        try:
            self.df.write.mode("overwrite").format("avro").save(path)
            return 0
        except Exception as e:
            msg = str(e)
            if not (
                "DATA_SOURCE_NOT_FOUND" in msg
                or "Failed to find data source" in msg
                or "Failed to find the data source" in msg
            ):
                raise
            from .sources.avro_py import write_avro

            return write_avro(self.df, path, codec=codec)

    def materialize(self, cache_dir: str) -> "BioDataset":
        """Force the transform chain into the fingerprint cache — the
        analogue of the reference's ``flatten_indices`` + cache file
        (SURVEY §3.2): a repeated pipeline with the same lineage reuses
        the parquet materialization instead of recomputing."""
        from .plans.fingerprint import FingerprintCache, plan_fingerprint

        fp = plan_fingerprint(self.df)
        out = FingerprintCache(cache_dir).materialize(self.df, fp=fp)
        return BioDataset(out, split=self.split, fingerprint=fp)

    def profile(self) -> dict:
        """One-pass column profile — the shard-audit a pipeline runs
        when a new data drop lands: row count plus, per column, null
        count, approximate distinct count (HLL, rsd 2%), and for
        numeric columns min/max/mean. Everything is a combinable
        aggregate compiled into ONE job over ONE scan — at 100 TB this
        is a single pass, where per-column loops (or DataFrame.summary
        with its exact percentiles) would re-scan per statistic.

        Returns {"n_rows": N, "columns": {name: {...}}}.
        """
        numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                   T.FloatType, T.DoubleType, T.DecimalType)
        simple = numeric + (T.StringType, T.BooleanType, T.DateType,
                            T.TimestampType)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for f in self.df.schema.fields:
            c = F.col(f"`{f.name}`")
            aggs.append(
                F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(f"{f.name}\x00nulls")
            )
            if isinstance(f.dataType, simple):
                aggs.append(
                    F.approx_count_distinct(c, 0.02).alias(f"{f.name}\x00distinct")
                )
            if isinstance(f.dataType, numeric):
                aggs.append(F.min(c).cast("double").alias(f"{f.name}\x00min"))
                aggs.append(F.max(c).cast("double").alias(f"{f.name}\x00max"))
                aggs.append(F.avg(c).cast("double").alias(f"{f.name}\x00mean"))
        row = self.df.agg(*aggs).collect()[0].asDict()
        out: dict = {"n_rows": row["__n"], "columns": {}}
        for k, v in row.items():
            if k == "__n":
                continue
            name, stat = k.split("\x00", 1)
            out["columns"].setdefault(name, {})[stat] = v
        return out

    # ----- corpus / training-data pipeline surface (extension ops) -----
    # Thin, role-preserving entry points to the operator modules so a
    # pipeline user discovers the dedup/quality family on the dataset
    # object itself; all heavy lifting (and the scale documentation)
    # lives in operators/dedup.py, operators/text.py,
    # operators/pipeline.py.

    def dedup_exact(self, text_col: str = "text",
                    id_col: str = "doc_id") -> "BioDataset":
        """Survivor rows after exact dedup: min-id representative per
        distinct normalized text. ONE shuffle on the content
        fingerprint (window min, no groupBy + join-back)."""
        from pyspark.sql import Window

        from .operators.dedup import fingerprint_md5

        w = Window.partitionBy(fingerprint_md5(F.col(text_col)))
        out = (
            self.df.withColumn("_keep_id", F.min(id_col).over(w))
            .filter(F.col(id_col) == F.col("_keep_id"))
            .drop("_keep_id")
        )
        return self._wrap(out)

    def near_dup_pairs(self, text_col: str = "text", id_col: str = "doc_id",
                       method: str = "minhash", threshold: float | None = None,
                       **kwargs) -> DataFrame:
        """Near-duplicate id pairs by the named detector. Returns a
        plain DataFrame of pairs (id_a, id_b, ...) — an edge list, not
        a dataset. method: 'minhash' (banded LSH, the scale path),
        'ngram' (exact bounded Jaccard), 'simhash' (hamming blocking;
        its similarity bound is ``max_hamming``, NOT ``threshold`` —
        passing threshold with simhash is a TypeError, never silently
        ignored), or 'embedding' (exact cosine over a vector column —
        pass ``vec_col``; ``text_col`` is ignored; threshold defaults
        to 0.9, the block-bounded O(N^2) verifier behind SRP/IVF).
        threshold defaults to 0.5 for minhash/ngram."""
        from .operators import dedup as D

        if method == "minhash":
            return D.minhash_lsh_pairs(self.df, text_col, id_col,
                                       threshold=0.5 if threshold is None else threshold,
                                       **kwargs)
        if method == "ngram":
            return D.ngram_jaccard_pairs(self.df, text_col, id_col,
                                         threshold=0.5 if threshold is None else threshold,
                                         **kwargs)
        if method == "simhash":
            if threshold is not None:
                raise TypeError(
                    "method='simhash' bounds similarity by max_hamming, not "
                    f"threshold; got threshold={threshold!r}. Pass "
                    "max_hamming=<int> (bits) instead."
                )
            return D.simhash_pairs(self.df, text_col, id_col, **kwargs)
        if method == "embedding":
            from .operators.similarity import embedding_dup_pairs

            return embedding_dup_pairs(
                self.df, threshold=0.9 if threshold is None else threshold,
                id_col=id_col, **kwargs)
        raise ValueError(
            f"unknown near-dup method {method!r}; "
            "expected 'minhash' | 'ngram' | 'simhash' | 'embedding'"
        )

    def near_dup_clusters(self, text_col: str = "text",
                          id_col: str = "doc_id", method: str = "minhash",
                          threshold: float | None = None, **kwargs) -> "BioDataset":
        """Every row labeled with its near-duplicate cluster id (min id
        of its similarity component; singletons represent themselves)
        plus a boolean ``keep`` flag — the full dedup decision,
        composing the named pair detector with connected components
        (operators/graph.py). ``kwargs`` pass to the detector."""
        from .operators.graph import dedup_clusters

        pairs = self.near_dup_pairs(text_col, id_col, method=method,
                                    threshold=threshold, **kwargs)
        return self._wrap(dedup_clusters(self.df, pairs, id_col))

    def clean_corpus(self, text_col: str = "text", id_col: str = "doc_id",
                     **kwargs) -> "BioDataset":
        """The composed cleaning pipeline: quality gate -> exact dedup
        -> greedy near-dup removal (operators/pipeline.py). Keyword
        args pass through (jaccard_threshold, shingle_n, use_lsh)."""
        from .operators.pipeline import clean_corpus

        return self._wrap(clean_corpus(self.df, text_col, id_col, **kwargs))

    def curated_corpus(self, emb, text_col: str = "text",
                       id_col: str = "doc_id", **kwargs) -> "BioDataset":
        """The embedding-era cleaning pipeline: quality gate -> exact
        dedup -> SemDeDup semantic dedup over ``emb`` (an embeddings
        DataFrame or BioDataset joined on the id). Keyword args pass
        through (k, threshold_num, threshold_den, vec_id_col,
        vec_col); see operators/pipeline.py:curated_corpus."""
        from .operators.pipeline import curated_corpus

        edf = emb.df if isinstance(emb, BioDataset) else emb
        return self._wrap(curated_corpus(self.df, edf, text_col,
                                         id_col, **kwargs))

    def quality_scores(self, text_col: str = "text", **kwargs) -> "BioDataset":
        """Per-row quality heuristics + a boolean ``keep`` gate
        (operators/text.py:quality_score) — pure expressions, no
        shuffle."""
        from .operators.text import quality_score

        return self._wrap(quality_score(self.df, text_col, **kwargs))

    def with_observation(self, name: str, *exprs) -> "BioDataset":
        """Attach zero-cost pipeline metrics via ``DataFrame.observe``:
        the named aggregate expressions (counts, sums, null tallies)
        are accumulated DURING whatever action next materializes the
        dataset — no extra pass over the data, which at 100 TB is the
        difference between monitored and unmonitored pipelines.
        Read them back after an action with ``get_observation(name)``.
        """
        from pyspark.sql import Observation

        obs = Observation(name)
        out = self._wrap(self.df.observe(obs, *exprs))
        out._observations = {**getattr(self, "_observations", {}), name: obs}
        return out

    def get_observation(self, name: str) -> dict:
        """Metrics recorded by ``with_observation`` during the first
        action that materialized the observed plan (Observation.get
        blocks until one has run)."""
        obs = getattr(self, "_observations", {}).get(name)
        return dict(obs.get) if obs is not None else {}

    def to_pandas(self):
        return self.df.toPandas()

    def audit_plan(self, allow_nested_loop: bool = False,
                   wide_scan_cols: int = 10) -> list[dict]:
        """Run the engine's 100 TB anti-pattern checks against this
        dataset's physical plan BEFORE submitting it to a cluster:
        cartesian products, unexpected nested-loop joins, row-at-a-time
        Python UDFs, single-task global windows, unpruned wide scans.
        Returns findings as ``[{"code", "detail"}, ...]`` (empty =
        clean) — the same checks the repo's own 332-query inventory is
        held to every round (tools/audit_plans.py)."""
        from .plans.audit import audit_plan

        return audit_plan(self.df, allow_nested_loop=allow_nested_loop,
                          wide_scan_cols=wide_scan_cols)

    def to_dict(self) -> dict[str, list]:
        """Columnar dict (reference Dataset.to_dict shape:
        {column: [values...]}). Collects — caller bounds the size;
        built in one pass so the driver holds the data once.

        Marshals through Arrow (``DataFrame.toArrow`` + per-column
        ``to_pylist``) instead of a per-row ``asDict(recursive=True)``
        loop: same values, 4x less driver CPU on flat schemas and
        2.2x on nested ones at the 1e6-row scale this contract allows
        (measured: PERFORMANCE.md round-7 "columnar to_dict"). Two
        Row-path compat shims: top-level
        TimestampType columns are converted tz-aware -> naive local
        (what Row collection returns); MapType anywhere (Arrow yields
        (key, value) tuple lists, not dicts) and timestamps NESTED in
        structs/arrays fall back to the row path. Two documented
        deviations from the old row path: binary values come back as
        immutable ``bytes`` (was ``bytearray``; == comparisons are
        unaffected), and duplicate column names raise (the row path
        silently kept one column)."""
        from pyspark.sql.types import MapType, TimestampType

        def _needs_row_path(dt, top: bool = True) -> bool:
            if isinstance(dt, MapType):
                return True
            if isinstance(dt, TimestampType) and not top:
                return True
            fields = getattr(dt, "fields", None)
            if fields is not None:
                return any(_needs_row_path(f.dataType, False) for f in fields)
            elem = getattr(dt, "elementType", None)
            return elem is not None and _needs_row_path(elem, False)

        if any(_needs_row_path(f.dataType) for f in self.df.schema.fields):
            out: dict[str, list] = {c: [] for c in self.df.columns}
            for r in self.df.collect():
                d = r.asDict(recursive=True)
                for c in out:
                    out[c].append(d[c])
            return out
        tbl = self.df.toArrow()
        ts_cols = {
            f.name for f in self.df.schema.fields
            if isinstance(f.dataType, TimestampType)
        }
        out = {}
        for c in tbl.column_names:
            vals = tbl.column(c).to_pylist()
            if c in ts_cols:
                vals = [
                    v.astimezone().replace(tzinfo=None) if v is not None else None
                    for v in vals
                ]
            out[c] = vals
        return out

    def unique(self, column: str, order: str = "sorted") -> list:
        """Distinct values of one column.

        ``order="sorted"`` (default): sorted output, None last —
        a deliberate deviation from the reference ``Dataset.unique``
        (first-appearance order), chosen because Spark's ``distinct``
        is unordered and sorted output is deterministic for free.

        ``order="appearance"``: reference-exact first-appearance
        order via ``zip_with_index`` + ``min(_row_id)`` per value —
        one extra shuffle, and appearance follows the current
        partition order (read order for freshly-loaded data)."""
        if order == "appearance":
            from .operators.joins import zip_with_index

            with_id = zip_with_index(self.df.select(column))
            firsts = (
                with_id.groupBy(column)
                .agg(F.min("_row_id").alias("_first"))
                .orderBy("_first")
                .collect()
            )
            return [r[0] for r in firsts]
        if order != "sorted":
            raise ValueError("order must be 'sorted' or 'appearance'")
        vals = [r[0] for r in self.df.select(column).distinct().collect()]
        return sorted(
            vals, key=lambda v: (v is None, v if v is not None else 0)
        )

    def iter_batches(self, batch_size: int = 1000) -> Iterator[list[dict]]:
        """Stream the dataset to the driver in bounded batches
        (training-loop feed): ``toLocalIterator`` pulls ONE partition
        at a time, so driver memory is one partition + one batch, never
        the whole table."""
        batch: list[dict] = []
        for row in self.df.toLocalIterator():
            batch.append(row.asDict(recursive=True))
            if len(batch) >= batch_size:
                yield batch
                batch = []
        if batch:
            yield batch

    def iter_arrow(self, max_batch_rows: int = 10_000) -> Iterator:
        """Stream the dataset to the driver as ``pyarrow.RecordBatch``es
        with bounded memory — the columnar twin of ``iter_batches``.

        Spark exposes no public Arrow-batched local iterator, so this
        builds one from public pieces: each partition serializes itself
        to Arrow IPC streams of <= ``max_batch_rows`` rows inside
        ``mapInArrow`` (executor-side, zero Python-object marshaling),
        yielding one (ipc_bytes) row per slice; ``toLocalIterator``
        then pulls those rows ONE PARTITION AT A TIME and the driver
        deserializes each. Driver memory = one partition's IPC bytes +
        one decoded batch; per-value Python cost is zero until the
        caller touches the data (feed ``pa.RecordBatch`` straight into
        Arrow-native consumers)."""
        import pyarrow as pa

        from pyspark.sql import types as T

        out_schema = T.StructType([T.StructField("ipc", T.BinaryType())])

        def to_ipc(batches):
            for rb in batches:
                tbl = pa.Table.from_batches([rb])
                for off in range(0, tbl.num_rows, max_batch_rows):
                    piece = tbl.slice(off, max_batch_rows)
                    sink = pa.BufferOutputStream()
                    with pa.ipc.new_stream(sink, piece.schema) as wr:
                        wr.write_table(piece)
                    yield pa.RecordBatch.from_pydict(
                        {"ipc": [sink.getvalue().to_pybytes()]}
                    )

        for row in self.df.mapInArrow(to_ipc, schema=out_schema).toLocalIterator():
            with pa.ipc.open_stream(row.ipc) as rd:
                for rb in rd:
                    if rb.num_rows:
                        yield rb

    def add_column(self, name: str, values: list, dtype: str | None = None,
                   order_by: list[str] | None = None) -> "BioDataset":
        """Append a driver-side value list by position (reference
        Dataset.add_column: new column goes LAST), zipped via the JVM
        row-index machinery in operators.joins.

        Positional pairing follows the DataFrame's CURRENT PARTITION
        ORDER when ``order_by`` is omitted — stable for freshly-read or
        driver-constructed data, but NOT guaranteed after a shuffle or
        join (the reference zips an inherently ordered Arrow table; a
        Spark DataFrame is unordered). Pass ``order_by`` to pin the
        row order values[i] pairs with. Length must match exactly;
        pass ``dtype`` when it can't be inferred (empty/all-None)."""
        from .operators import joins as _joins

        if name in self.df.columns:
            raise ValueError(f"add_column: column {name!r} already exists")
        spark = self.df.sparkSession
        if dtype is not None:
            vdf = spark.createDataFrame([(v,) for v in values], schema=f"{name} {dtype}")
        else:
            try:
                vdf = spark.createDataFrame([(v,) for v in values]).toDF(name)
            except Exception as e:
                raise ValueError(
                    f"add_column: cannot infer a type for {name!r} "
                    "(empty or all-None values) — pass dtype="
                ) from e
        out = _joins.align_horizontal(self.df, vdf, order_by_left=order_by)
        return self._wrap(out.select(*self.df.columns, name))

    def __repr__(self) -> str:
        return f"BioDataset(split={self.split!r}, columns={self.columns})"


class BioDatasetDict(dict):
    """{split: BioDataset} with per-split broadcasting — the reference's
    DatasetDict surface (its dataset_dict.py defers to the base class):
    transforms apply to EVERY split and return a new dict; save/load
    round-trips the split layout as subdirectories.

    Being a real dict, all mapping behavior (keys(), ["train"], **d)
    is unchanged for existing callers.
    """

    def _apply(self, method: str, *args, **kwargs) -> "BioDatasetDict":
        return BioDatasetDict(
            {k: getattr(ds, method)(*args, **kwargs) for k, ds in self.items()})

    def map(self, *args, **kwargs) -> "BioDatasetDict":
        return self._apply("map", *args, **kwargs)

    def filter(self, *args, **kwargs) -> "BioDatasetDict":
        return self._apply("filter", *args, **kwargs)

    def select_columns(self, *args, **kwargs) -> "BioDatasetDict":
        return self._apply("select_columns", *args, **kwargs)

    def remove_columns(self, *args, **kwargs) -> "BioDatasetDict":
        return self._apply("remove_columns", *args, **kwargs)

    def rename_column(self, *args, **kwargs) -> "BioDatasetDict":
        return self._apply("rename_column", *args, **kwargs)

    def rename_columns(self, *args, **kwargs) -> "BioDatasetDict":
        return self._apply("rename_columns", *args, **kwargs)

    def cast_column(self, *args, **kwargs) -> "BioDatasetDict":
        return self._apply("cast_column", *args, **kwargs)

    def sort(self, *args, **kwargs) -> "BioDatasetDict":
        return self._apply("sort", *args, **kwargs)

    def shuffle(self, *args, **kwargs) -> "BioDatasetDict":
        return self._apply("shuffle", *args, **kwargs)

    def flatten(self, *args, **kwargs) -> "BioDatasetDict":
        return self._apply("flatten", *args, **kwargs)

    def class_encode_column(self, *args, **kwargs) -> "BioDatasetDict":
        return self._apply("class_encode_column", *args, **kwargs)

    @property
    def num_rows(self) -> dict[str, int]:
        return {k: ds.num_rows for k, ds in self.items()}

    @property
    def column_names(self) -> dict[str, list[str]]:
        return {k: ds.columns for k, ds in self.items()}

    def save_to_disk(self, path: str) -> None:
        """Each split under ``<path>/<split>/`` (the reference's
        DatasetDict layout)."""
        import os

        for k, ds in self.items():
            ds.save_to_disk(os.path.join(path, k))

    @classmethod
    def load_from_disk(cls, path: str, spark=None) -> "BioDatasetDict":
        import os

        from .sources.sink import load_from_disk

        spark = spark or _default_spark()
        out = cls()
        for name in sorted(os.listdir(path)):
            sub = os.path.join(path, name)
            if os.path.isdir(sub):
                out[name] = BioDataset(load_from_disk(spark, sub), split=name)
        if not out:
            raise ValueError(f"load_from_disk: no split directories under {path!r}")
        return out
