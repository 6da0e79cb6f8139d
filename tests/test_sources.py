"""Sources: sparse NPZ reader (scipy-free CSR path), archive/compressed
ingest, arrow interchange, format detection."""

import gzip
import zipfile

import numpy as np
import pytest

from biosets_spark import load_dataset
from biosets_spark.sources.archives import expand_paths, extract, is_archive
from biosets_spark.sources.npz import read_npz
from biosets_spark.sources.readers import detect_format


def _write_csr_npz(path, dense):
    """Write a scipy-format sparse npz without scipy (FIXTURES §6)."""
    dense = np.asarray(dense)
    indptr = [0]
    indices, data = [], []
    for row in dense:
        nz = np.nonzero(row)[0]
        indices.extend(nz.tolist())
        data.extend(row[nz].tolist())
        indptr.append(len(indices))
    np.savez(
        path,
        data=np.array(data, dtype=dense.dtype),
        indices=np.array(indices, dtype=np.int32),
        indptr=np.array(indptr, dtype=np.int32),
        shape=np.array(dense.shape, dtype=np.int64),
        format=np.bytes_("csr"),
    )


def test_read_npz_csr_dense_equality(spark, tmp_path):
    """Golden dense values, as in reference test_biodata.py:1219-1226."""
    dense = np.array([[0.0, 0.7], [0.3, 0.0], [0.0, 0.0]])
    p = str(tmp_path / "m.npz")
    _write_csr_npz(p, dense)
    df = read_npz(spark, p, with_row_index=True).orderBy("_row")
    got = np.array([[r["0"], r["1"]] for r in df.collect()])
    assert np.allclose(got, dense)
    assert df.columns == ["_row", "0", "1"]


def test_read_npz_feature_names(spark, tmp_path):
    dense = np.array([[1.0, 2.0]])
    p = str(tmp_path / "m.npz")
    _write_csr_npz(p, dense)
    df = read_npz(spark, p, column_names=["otu_a", "otu_b"])
    assert df.columns == ["otu_a", "otu_b"]
    with pytest.raises(ValueError, match="column_names"):
        read_npz(spark, p, column_names=["just_one"])


def test_npz_through_load_dataset(spark, tmp_path):
    """npz columns renamed from feature_metadata (biodata.py:1099-1124)."""
    dense = np.array([[5.0, 0.0], [0.0, 3.0]])
    _write_csr_npz(str(tmp_path / "data.npz"), dense)
    (tmp_path / "feature_metadata.csv").write_text("feature,note\ngene1,x\ngene2,y\n")
    ds = load_dataset(path=str(tmp_path), spark=spark)
    assert ds.columns == ["gene1", "gene2"]
    assert ds.num_rows == 2


def test_archive_detection_and_extract(tmp_path):
    zp = tmp_path / "bundle.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("inner/data.csv", "a,b\n1,2\n")
    assert is_archive(str(zp))
    members = extract(str(zp))
    assert len(members) == 1 and members[0].endswith("inner/data.csv")
    expanded = expand_paths([str(zp), "/other/plain.csv"])
    assert expanded[0].endswith("data.csv") and expanded[1] == "/other/plain.csv"


def test_load_dataset_from_zip(spark, tmp_path):
    zp = tmp_path / "data.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("data.csv", "sample,h1\ns1,1\ns2,2\n")
    ds = load_dataset(path=str(tmp_path), spark=spark)
    assert ds.num_rows == 2


def test_load_dataset_gz_native(spark, tmp_path):
    with gzip.open(tmp_path / "data.csv.gz", "wt") as f:
        f.write("sample,h1\ns1,1\ns2,2\ns3,3\n")
    ds = load_dataset(path=str(tmp_path), spark=spark)
    assert ds.num_rows == 3


def test_detect_format_with_compression():
    assert detect_format("x.csv.gz") == "csv"
    assert detect_format("x.jsonl.zst") == "json"
    assert detect_format("x.parquet") == "parquet"
    with pytest.raises(ValueError):
        detect_format("x.unknown")


def test_arrow_roundtrip(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.ipc as ipc

    t = pa.table({"sample": ["s1", "s2"], "v": [1, 2]})
    p = str(tmp_path / "t.arrow")
    with ipc.new_file(p, t.schema) as w:
        w.write_table(t)
    from biosets_spark.sources.readers import read_arrow

    df = read_arrow(spark, p)
    assert df.count() == 2 and df.columns == ["sample", "v"]


def test_approx_distinct_tolerance(spark):
    from biosets_spark import tables
    from pyspark.sql import functions as F

    e = tables.load(spark, "/root/testdata/sf0.001", "events")
    row = (
        e.agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        ).first()
    )
    assert abs(row.approx - row.exact) / row.exact < 0.05


def test_jsonl_not_misread_as_multiline(spark, tmp_path):
    """Regression (review): a .json file holding JSONL records must not
    collapse to one row via multiLine misdetection."""
    p = tmp_path / "records.json"
    p.write_text('{"a": 1}\n{"a": 2}\n{"a": 3}\n')
    from biosets_spark.sources.readers import read_json

    assert read_json(spark, str(p)).count() == 3


def test_multi_null_sentinels(spark, tmp_path):
    p = tmp_path / "d.csv"
    p.write_text("s,x\na,NA\nb,-\nc,ok\n")
    from biosets_spark.sources.readers import read_csv

    df = read_csv(spark, str(p), null_values=["NA", "-"])
    got = {r.s: r.x for r in df.collect()}
    assert got == {"a": None, "b": None, "c": "ok"}


def test_discovery_recognizes_tarball_and_feather(tmp_path):
    import tarfile

    from biosets_spark.sources.discovery import discover

    inner = tmp_path / "payload.csv"
    inner.write_text("a,b\n1,2\n")
    with tarfile.open(tmp_path / "data.tar.gz", "w:gz") as t:
        t.add(inner, arcname="payload.csv")
    inner.unlink()
    (tmp_path / "extra.feather").write_bytes(b"FEA1")
    found = discover(str(tmp_path))
    names = {f.split("/")[-1] for f in found["data_files"]}
    assert names == {"data.tar.gz", "extra.feather"}


def test_read_sql_jdbc_derby_roundtrip(spark, tmp_path):
    """S7 JDBC source round-trip against embedded Derby (ships in the
    Spark jars — no external service): write a table through Spark's
    JDBC sink, read it back via read_sql, both as a table name and as
    a subquery."""
    from biosets_spark.sources.readers import read_sql

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    src = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "a", 3.5)], "id int, grp string, val double"
    )
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "t1")
        # Derby maps StringType to CLOB by default, which cannot be
        # grouped/compared — pin a comparable type for the string col
        .option("createTableColumnTypes", "grp VARCHAR(16)")
        .mode("overwrite")
        .save()
    )

    back = read_sql(spark, "t1", url)
    assert sorted((r.id, r.grp, r.val) for r in back.collect()) == [
        (1, "a", 1.5), (2, "b", 2.5), (3, "a", 3.5),
    ]
    # raw SQL pushdown: Spark's JDBC writer creates quoted (lowercase)
    # identifiers, so Derby needs them quoted in hand-written queries
    # (table names are written unquoted -> Derby uppercases them, so
    # reference the table unquoted too)
    sub = read_sql(
        spark, 'SELECT "grp", COUNT(*) AS "n" FROM t1 GROUP BY "grp"', url
    )
    assert {(r.grp, r.n) for r in sub.collect()} == {("a", 2), ("b", 1)}


def test_load_dataset_from_tar_xz(spark, tmp_path):
    """S9: xz-compressed tar container (stdlib lzma) through the
    ingest-unpack path (reference fixtures files.py:45-96)."""
    import tarfile

    (tmp_path / "inner.csv").write_text("sample,h1\ns1,1\ns2,2\n")
    arc = tmp_path / "bundle.tar.xz"
    with tarfile.open(arc, "w:xz") as t:
        t.add(tmp_path / "inner.csv", arcname="inner.csv")
    from biosets_spark import load_dataset

    ds = load_dataset(data_files=[str(arc)], spark=spark)
    assert ds.num_rows == 2


def test_partitioned_sink_prunes_partitions(spark, tmp_path):
    """save_to_disk(partition_by=...) writes a hive layout and an
    equality filter on the partition column reaches the scan as a
    PartitionFilter (whole directories skipped, not row groups)."""
    from biosets_spark.sources.sink import load_from_disk, save_to_disk

    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(30)],
        "id long, split string, v double",
    )
    out = str(tmp_path / "part")
    save_to_disk(df, out, partition_by="split")
    import os

    assert sorted(d for d in os.listdir(out) if d.startswith("split=")) == [
        "split=a", "split=b", "split=c",
    ]
    back = load_from_disk(spark, out)
    filtered = back.filter(back.split == "b")
    assert filtered.count() == 10
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "split" in plan.split("PartitionFilters", 1)[1][:200]


def test_partitioned_sink_roundtrips_partition_dtype(spark, tmp_path):
    """Partition values live in directory names; the reader re-infers
    their types ('0' -> int). load_from_disk must cast back to the
    saved dtype recorded in the sidecar."""
    from biosets_spark.sources.sink import load_from_disk, save_to_disk

    df = spark.createDataFrame(
        [(1, "0"), (2, "1"), (3, "0")], "id long, label string"
    )
    out = str(tmp_path / "p")
    save_to_disk(df, out, partition_by="label")
    back = load_from_disk(spark, out)
    assert dict(back.dtypes)["label"] == "string"
    assert back.filter(back.label == "1").count() == 1


def test_stray_unreadable_archive_is_skipped(spark, tmp_path, monkeypatch):
    """A stray archive needing an absent optional codec must not make
    the directory's readable files unloadable — it is skipped with a
    warning. An ONLY-archive input still fails loudly."""
    import builtins
    import warnings as _warnings

    from biosets_spark import load_dataset
    from biosets_spark.sources import archives

    real_import = builtins.__import__

    def no_py7zr(name, *a, **kw):
        if name == "py7zr":
            raise ImportError("No module named 'py7zr'")
        return real_import(name, *a, **kw)

    monkeypatch.setattr(builtins, "__import__", no_py7zr)
    (tmp_path / "d.csv").write_text("sample,h1\ns1,1\n")
    (tmp_path / "legacy.7z").write_bytes(b"7z\xbc\xaf\x27\x1c")
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        ds = load_dataset(path=str(tmp_path), spark=spark)
    assert ds.num_rows == 1
    assert any("skipping unreadable archive" in str(x.message) for x in w)
    with pytest.raises(ImportError, match="py7zr"):
        archives.expand_paths([str(tmp_path / "legacy.7z")])


def test_colon_in_local_filename_is_not_a_uri(tmp_path, monkeypatch):
    """'data:v2.zip' as a RELATIVE path is a legal local filename, not
    a scheme-qualified URI (schemes require ':/')."""
    import zipfile

    from biosets_spark.sources import archives

    (tmp_path / "inner.csv").write_text("a\n1\n")
    arc = tmp_path / "data:v2.zip"
    with zipfile.ZipFile(arc, "w") as z:
        z.write(tmp_path / "inner.csv", arcname="inner.csv")
    monkeypatch.chdir(tmp_path)
    out = archives.extract("data:v2.zip")
    assert len(out) == 1 and out[0].endswith("inner.csv")


def test_directory_discovery_sees_all_archive_formats(spark, tmp_path):
    """discovery reuses archives.ARCHIVE_EXTS — a directory whose only
    data file is a .tar.xz must be discoverable (the two extension
    lists had drifted)."""
    import tarfile

    (tmp_path / "inner.csv").write_text("sample,h1\ns1,1\ns2,2\n")
    with tarfile.open(tmp_path / "bundle.tar.xz", "w:xz") as t:
        t.add(tmp_path / "inner.csv", arcname="inner.csv")
    (tmp_path / "inner.csv").unlink()
    from biosets_spark import load_dataset

    ds = load_dataset(path=str(tmp_path), spark=spark)
    assert ds.num_rows == 2


def test_extract_handles_file_uri_and_rejects_remote(tmp_path):
    """Hadoop-FS discovery returns scheme-qualified paths; extract()
    must strip file: URIs before opening locally and refuse remote
    schemes with a clear error."""
    import zipfile

    import pytest as _pytest

    from biosets_spark.sources import archives

    (tmp_path / "inner.csv").write_text("a,b\n1,2\n")
    arc = tmp_path / "data.zip"
    with zipfile.ZipFile(arc, "w") as z:
        z.write(tmp_path / "inner.csv", arcname="inner.csv")
    for uri in (f"file:{arc}", f"file://{arc}"):
        out = archives.extract(uri)
        assert len(out) == 1 and out[0].endswith("inner.csv")
    with _pytest.raises(ValueError, match="remote filesystem"):
        archives.extract("s3a://bucket/data.zip")


def test_zstd_and_7z_gated_behind_imports(tmp_path, monkeypatch):
    """zstd-tar / 7z extraction depends on optional packages: when the
    import fails, the code path must surface a clear ImportError, not a
    confusing parse error. The absence is forced via sys.modules so the
    test is deterministic even where the packages happen to be
    installed."""
    import builtins
    import sys

    import pytest as _pytest

    from biosets_spark.sources import archives

    real_import = builtins.__import__

    def no_optional(name, *a, **kw):
        if name in ("zstandard", "py7zr"):
            raise ImportError(f"No module named {name!r}")
        return real_import(name, *a, **kw)

    monkeypatch.delitem(sys.modules, "zstandard", raising=False)
    monkeypatch.delitem(sys.modules, "py7zr", raising=False)
    monkeypatch.setattr(builtins, "__import__", no_optional)

    fake_zst = tmp_path / "x.tar.zst"
    fake_zst.write_bytes(b"\x28\xb5\x2f\xfd")
    with _pytest.raises(ImportError, match="zstandard"):
        archives.extract(str(fake_zst))
    fake_7z = tmp_path / "x.7z"
    fake_7z.write_bytes(b"7z\xbc\xaf\x27\x1c")
    with _pytest.raises(ImportError, match="py7zr"):
        archives.extract(str(fake_7z))
    assert archives.is_archive("a.tar.zst") and archives.is_archive("b.7z")


def test_orc_roundtrip_through_load_dataset(spark, tmp_path):
    """S-extension: ORC scan (built-in columnar source, parquet-class
    pushdown) through both read_files and load_dataset."""
    src = spark.createDataFrame(
        [("s1", 1.5, "a"), ("s2", 2.5, "b")], "sample string, v double, tag string"
    )
    orc_dir = str(tmp_path / "orc_out")
    src.coalesce(1).write.orc(orc_dir)
    import glob

    orc_file = glob.glob(orc_dir + "/*.orc")[0]
    from biosets_spark.sources.readers import detect_format, read_files

    assert detect_format(orc_file) == "orc"
    got = read_files(spark, [orc_file])
    assert {r["sample"] for r in got.collect()} == {"s1", "s2"}

    from biosets_spark import load_dataset

    ds = load_dataset(data_files=[orc_file], spark=spark)
    assert ds.num_rows == 2


def test_avro_roundtrip_pure_python(spark, tmp_path):
    """S-series Avro source: the dependency-free container codec
    (sources/avro_py.py) writes and reads the Avro 1.x object
    container format — both codecs, logical types, nested records,
    [null, T] unions — and read_files dispatches .avro through the
    JVM datasource when present, else this fallback."""
    import datetime

    from biosets_spark.sources import avro_py as A
    from biosets_spark.sources.readers import detect_format, read_files

    schema = {
        "type": "record", "name": "Doc", "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": ["null", "string"]},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "nested", "type": {
                "type": "record", "name": "Inner", "fields": [
                    {"name": "a", "type": "int"},
                    {"name": "b", "type": ["null", "string"]}]}},
            {"name": "day", "type": {"type": "int", "logicalType": "date"}},
        ],
    }
    rows = [
        (i, f"n{i}" if i % 2 else None, [f"t{i}"], (i, "x"), 18000 + i)
        for i in range(300)
    ]
    f1 = str(tmp_path / "part1.avro")
    f2 = str(tmp_path / "part2.avro")
    A.write_container(f1, schema, rows[:200], codec="deflate",
                      records_per_block=64)
    A.write_container(f2, schema, rows[200:], codec="null")
    assert detect_format(f1) == "avro"

    # plain-python roundtrip (no Spark)
    back = list(A.iter_records(open(f1, "rb").read()))
    assert len(back) == 200
    assert back[5] == {"id": 5, "name": "n5", "tags": ["t5"],
                       "nested": {"a": 5, "b": "x"},
                       "day": datetime.date(1970, 1, 1)
                       + datetime.timedelta(days=18005)}

    # distributed read through the dispatch (spark-avro absent here ->
    # pure-python fallback; present -> JVM datasource, same results)
    df = read_files(spark, [f1, f2])
    assert df.count() == 300
    r = df.filter("id = 5").collect()[0]
    assert r["name"] == "n5" and r["nested"]["a"] == 5
    assert df.filter("name IS NULL").count() == 150


def test_avro_unsupported_shapes_rejected(tmp_path):
    """Multi-branch unions and exotic codecs fail fast with guidance."""
    import pytest

    from biosets_spark.sources import avro_py as A

    bad_union = {"type": "record", "name": "R", "fields": [
        {"name": "u", "type": ["int", "string"]}]}
    with pytest.raises(ValueError, match="null, T"):
        A.write_container(str(tmp_path / "u.avro"), bad_union, [(1,)])
    ok = {"type": "record", "name": "R", "fields": [
        {"name": "x", "type": "long"}]}
    with pytest.raises(ValueError, match="codec"):
        A.write_container(str(tmp_path / "c.avro"), ok, [(1,)],
                          codec="snappy")


def test_upsert_parquet(spark, tmp_path):
    """MERGE semantics: matched keys replaced, new keys inserted,
    untouched rows intact; swap is all-or-nothing on disk."""
    from biosets_spark.sources.sink import upsert_parquet

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, name string, v long")
    stats0 = upsert_parquet(spark, path, base, keys="id")
    assert stats0 == {"inserted": 3, "updated": 0, "total": 3}

    updates = spark.createDataFrame(
        [(2, "B", 99), (4, "d", 40)], "id long, name string, v long")
    stats = upsert_parquet(spark, path, updates, keys="id")
    assert stats == {"inserted": 1, "updated": 1, "total": 4}
    rows = {r.id: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {1: ("a", 10), 2: ("B", 99), 3: ("c", 30), 4: ("d", 40)}


def test_compact_parquet(spark, tmp_path):
    """Many small files collapse to the row-count-derived target;
    data unchanged."""
    from biosets_spark.sources.sink import compact_parquet

    path = str(tmp_path / "frag")
    spark.range(0, 100, 1, 16).write.parquet(path)  # 16 small files
    stats = compact_parquet(spark, path, target_rows_per_file=50)
    assert stats["files_before"] == 16
    assert stats["files_after"] == 2
    assert stats["rows"] == 100
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == list(range(100))


def test_upsert_parquet_model_based(spark, tmp_path):
    """Five seeded rounds of random upserts track a dict model exactly
    (MERGE semantics: last write per key wins, everything else kept)."""
    import random

    from biosets_spark.sources.sink import upsert_parquet

    rng = random.Random(7)
    path = str(tmp_path / "mb")
    model: dict[int, int] = {}
    for rnd in range(5):
        batch = {rng.randrange(40): rng.randrange(1000) for _ in range(rng.randrange(1, 15))}
        updates = spark.createDataFrame(
            [(k, v) for k, v in batch.items()], "id long, v long")
        stats = upsert_parquet(spark, path, updates, keys="id")
        expect_updated = sum(1 for k in batch if k in model)
        expect_inserted = len(batch) - expect_updated
        model.update(batch)
        assert stats["updated"] == (expect_updated if rnd else 0)
        assert stats["inserted"] == (expect_inserted if rnd else len(batch))
        assert stats["total"] == len(model)
        got = {r.id: r.v for r in spark.read.parquet(path).collect()}
        assert got == model


def test_save_sort_by_tightens_rowgroup_stats(spark, tmp_path):
    """sort_by clusters rows within files so parquet min/max spans
    shrink — the row-group skipping lever for high-cardinality keys."""
    import glob

    import pyarrow.parquet as pq

    from biosets_spark.sources.sink import save_to_disk

    df = spark.range(0, 100_000, 1, 4).selectExpr(
        "pmod(hash(id), 100000) AS k", "id AS v"
    )

    def span_sum(path):
        total = n = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(0).statistics
                total += st.max - st.min
                n += 1
        return total / max(n, 1)

    unsorted_path = str(tmp_path / "unsorted")
    sorted_path = str(tmp_path / "sorted")
    save_to_disk(df, unsorted_path)
    save_to_disk(df, sorted_path, sort_by="k", sort_files=8)
    # sorted files cover disjoint-ish k ranges; unsorted cover ~full range
    assert span_sum(sorted_path) < span_sum(unsorted_path) / 2
    # content identical
    back = spark.read.parquet(sorted_path)
    assert back.count() == 100_000


def test_avro_review_hardening(spark, tmp_path):
    """r6 review fixes: truncated varints raise EOFError (not a bare
    IndexError), schema drift across files fails with the file named,
    remote URIs are rejected up front, and logical types roundtrip
    through encode (decode -> encode -> decode identity)."""
    import datetime

    import pytest

    from biosets_spark.sources import avro_py as A

    # truncated varint -> EOFError
    with pytest.raises((EOFError, ValueError)):
        list(A.iter_records(b"Obj\x01\x02"))

    # logical-type encode roundtrip
    schema = {"type": "record", "name": "L", "fields": [
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {"name": "ts", "type": {"type": "long",
                                "logicalType": "timestamp-micros"}},
    ]}
    rows = [(datetime.date(2020, 3, 1),
             datetime.datetime(2021, 5, 1, 12, 30, 0, 250))]
    p = str(tmp_path / "l.avro")
    A.write_container(p, schema, rows)
    back = list(A.iter_records(open(p, "rb").read()))
    assert back[0]["d"] == rows[0][0] and back[0]["ts"] == rows[0][1]
    # re-encoding the decoded dicts is also accepted (review fix #4)
    A.write_container(p, schema, [tuple(r.values()) for r in back])
    assert list(A.iter_records(open(p, "rb").read()))[0]["d"] == rows[0][0]

    # schema drift across files -> named failure
    s1 = {"type": "record", "name": "R", "fields": [
        {"name": "id", "type": "long"}]}
    s2 = {"type": "record", "name": "R", "fields": [
        {"name": "id", "type": "long"}, {"name": "extra", "type": "long"}]}
    f1, f2 = str(tmp_path / "a1.avro"), str(tmp_path / "a2.avro")
    A.write_container(f1, s1, [(1,)])
    A.write_container(f2, s2, [(2, 3)])
    with pytest.raises(Exception, match="schema drift"):
        A.read_avro_py(spark, [f1, f2]).collect()

    # remote URI rejected with guidance
    with pytest.raises(ValueError, match="remote URI"):
        A.read_avro_py(spark, ["s3://bucket/x.avro"])


def test_avro_write_sink_roundtrip(spark, tmp_path):
    """Distributed Avro SINK (write_avro): one container file per
    partition, nullable [null,T] fields, logical types — read back
    through the fallback reader with identical rows."""
    import datetime
    from decimal import Decimal

    from pyspark.sql import Row

    from biosets_spark.sources import avro_py as A

    rows = [
        Row(id=i, name=(None if i % 3 == 0 else f"n{i}"),
            score=i * 0.5, ok=i % 2 == 0,
            tags=[f"t{j}" for j in range(i % 3)],
            attrs={"k": i},
            day=datetime.date(2020, 1, 1) + datetime.timedelta(days=i),
            ts=datetime.datetime(2021, 1, 1) + datetime.timedelta(seconds=i),
            amt=Decimal(i).scaleb(-2).quantize(Decimal("0.01")))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows,
        "id long, name string, score double, ok boolean, "
        "tags array<string>, attrs map<string, long>, day date, "
        "ts timestamp, amt decimal(10,2)",
    ).repartition(4)
    out = str(tmp_path / "sink")
    n_parts = A.write_avro(df, out)
    assert n_parts >= 1

    import glob

    files = sorted(glob.glob(out + "/part-*.avro"))
    assert len(files) == n_parts
    back = A.read_avro_py(spark, files)
    got = {r["id"]: r for r in back.collect()}
    assert len(got) == 200
    r7 = got[7]
    assert r7["name"] == "n7" and r7["tags"] == ["t0"]
    assert r7["attrs"] == {"k": 7} and str(r7["day"]) == "2020-01-08"
    assert r7["amt"] == Decimal("0.07")
    assert got[9]["name"] is None  # nullable union survived


def test_avro_through_load_dataset(spark, tmp_path):
    """Avro shards discovered by load_dataset(path=...): extension
    dispatch + split inference over the fallback reader."""
    from biosets_spark import load_dataset
    from biosets_spark.sources import avro_py as A

    schema = {"type": "record", "name": "R", "fields": [
        {"name": "sample", "type": "string"},
        {"name": "geneA", "type": "long"}]}
    A.write_container(str(tmp_path / "train-p0.avro"), schema,
                      [(f"s{i}", i) for i in range(30)], codec="deflate")
    A.write_container(str(tmp_path / "test-p0.avro"), schema,
                      [(f"t{i}", i) for i in range(10)])
    ds = load_dataset(path=str(tmp_path), spark=spark)
    assert ds["train"].num_rows == 30 and ds["test"].num_rows == 10
    assert "geneA" in ds["train"].columns


def test_avro_ranged_split_read(spark, tmp_path):
    """Sync-marker split reader: one container carved into many byte
    ranges decodes every record exactly once (Hadoop split contract —
    a block belongs to the range holding its preceding sync's first
    byte), across ~8 boundary crossings."""
    import hashlib

    from biosets_spark.sources import avro_py as A

    schema = {"type": "record", "name": "R", "fields": [
        {"name": "id", "type": "long"}, {"name": "payload", "type": "string"}]}
    rows = [(i, hashlib.md5(str(i).encode()).hexdigest() * 3)
            for i in range(60_000)]
    p = str(tmp_path / "big.avro")
    A.write_container(p, schema, rows, codec="null", records_per_block=128)

    df = A.read_avro_ranged(spark, [p], split_bytes=1 << 20)
    assert df.count() == 60_000
    assert df.select("id").distinct().count() == 60_000  # nothing doubled
    got = df.filter("id = 31337").collect()[0]["payload"]
    assert got == hashlib.md5(b"31337").hexdigest() * 3


def test_avro_review2_hardening(spark, tmp_path):
    """Second review pass fixes: tiny trailing blocks parse in the
    ranged reader, sync markers are random (no zero-byte collision),
    nullable int / null timestamp / struct / null-array-element
    columns survive the distributed sink."""
    import datetime
    import glob

    from pyspark.sql import Row

    from biosets_spark.sources import avro_py as A

    # tiny blocks (records_per_block=1): negative-read regression
    s1 = {"type": "record", "name": "T", "fields": [
        {"name": "x", "type": "long"}]}
    p1 = str(tmp_path / "tiny.avro")
    A.write_container(p1, s1, [(i,) for i in range(50)], records_per_block=1)
    got = A.read_avro_ranged(spark, [p1], split_bytes=1 << 20).count()
    assert got == 50

    # random sync: zero-heavy binary payloads can't fake a marker
    s2 = {"type": "record", "name": "Z", "fields": [
        {"name": "id", "type": "long"}, {"name": "blob", "type": "bytes"}]}
    p2 = str(tmp_path / "zeros.avro")
    A.write_container(p2, s2, [(i, b"\x00" * 64) for i in range(2000)],
                      records_per_block=64)
    hdr = open(p2, "rb").read(1 << 16)
    _, _, sync, _ = A.parse_header(hdr)
    assert sync != b"\x00" * 16
    assert A.read_avro_ranged(spark, [p2], split_bytes=1 << 20).count() == 2000

    # sink: nullable longs with actual nulls, null timestamps, structs,
    # null array elements
    rows = [
        Row(id=i,
            maybe=(None if i % 2 else i * 10),
            ts=(None if i == 3 else datetime.datetime(2022, 1, 1 + i)),
            nested=Row(a=i, b=(None if i % 3 == 0 else f"s{i}")),
            tags=(["x", None, "y"] if i == 1 else [f"t{i}"]))
        for i in range(6)
    ]
    df = spark.createDataFrame(
        rows,
        "id long, maybe long, ts timestamp, "
        "nested struct<a: int, b: string>, tags array<string>",
    ).coalesce(1)
    out = str(tmp_path / "sink2")
    A.write_avro(df, out)
    back = {r["id"]: r for r in A.read_avro_py(
        spark, sorted(glob.glob(out + "/part-*.avro"))).collect()}
    assert back[2]["maybe"] == 20 and back[1]["maybe"] is None
    assert back[3]["ts"] is None and back[2]["ts"].day == 3
    assert back[4]["nested"]["a"] == 4 and back[3]["nested"]["b"] is None
    assert back[1]["tags"] == ["x", None, "y"]
    # struct VALUES (not dict keys) round-tripped
    assert back[5]["nested"]["b"] == "s5"


def test_relation_cache_memoizes_per_session(spark, tmp_path):
    """tables.load memoizes the analyzed relation per (session, dir,
    name) — the catalog pattern: footer/list cost paid once, lazy plan
    reused, refresh() drops it (for callers that rewrite inputs)."""
    from biosets_spark import tables

    a = tables.load(spark, "/root/testdata/sf0.001", "nation")
    b = tables.load(spark, "/root/testdata/sf0.001", "nation")
    assert a is b  # same analyzed DataFrame object, no re-list/re-read
    # events cache hits must still pin the scan/render confs
    e1 = tables.load(spark, "/root/testdata/sf0.001", "events")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    e2 = tables.load(spark, "/root/testdata/sf0.001", "events")
    assert e1 is e2
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert e2.schema["ts"].dataType.typeName() == "timestamp"
    tables.refresh()
    c = tables.load(spark, "/root/testdata/sf0.001", "nation")
    assert c is not a and c.schema == a.schema


def test_dataset_to_sql_jdbc_roundtrip(spark, tmp_path):
    """BioDataset.to_sql: distributed JDBC sink against embedded
    Derby, read back via read_sql; num_partitions caps connections."""
    from biosets_spark import BioDataset
    from biosets_spark.sources.readers import read_sql

    url = f"jdbc:derby:{tmp_path}/sinkdb;create=true"
    ds = BioDataset(spark.createDataFrame(
        [(i, f"g{i % 2}", i * 0.5) for i in range(20)],
        "id int, grp string, val double").repartition(8))
    ds.to_sql("t_sink", url, num_partitions=2,
              createTableColumnTypes="grp VARCHAR(16)")
    back = read_sql(spark, "t_sink", url)
    assert back.count() == 20
    assert {r.grp for r in back.select("grp").distinct().collect()} == {"g0", "g1"}


def test_zigzag_numpy_int64_terminates():
    """r7 review: np.int64 inputs whose zigzag fold overflows previously
    hung _zigzag forever (arithmetic shift pins at -1); the coercion to
    python int must make every int64 encode/decode cleanly."""
    import numpy as np

    from biosets_spark.sources.avro_py import _zigzag

    for v in (np.int64(2**62), np.int64(-(2**63)), np.int64(2**63 - 1),
              np.int64(-1), np.int64(0)):
        b = _zigzag(v)
        assert 1 <= len(b) <= 10  # varint for 64-bit zigzag is <= 10 bytes


def test_skip_rows_preserves_bytes(spark, tmp_path):
    """r7 review: skip_rows must not round-trip file bytes through the
    wrong text codec — gzip inputs decompress, latin-1 stays latin-1."""
    import gzip

    latin = tmp_path / "l.csv"
    latin.write_bytes("junk\nname,x\ncafé,1\n".encode("latin-1"))
    from biosets_spark.sources.readers import read_csv

    df = read_csv(spark, str(latin), skip_rows=1, encoding="latin-1",
                  infer_schema=False)
    assert [r.name for r in df.collect()] == ["café"]

    gz = tmp_path / "g.csv.gz"
    with gzip.open(gz, "wt") as f:
        f.write("junk\nname,x\nalpha,1\nbeta,2\n")
    df2 = read_csv(spark, str(gz), skip_rows=1, infer_schema=False)
    assert sorted(r.name for r in df2.collect()) == ["alpha", "beta"]


def test_archive_nondata_members_skipped(spark, tmp_path):
    """r7 review: a README inside an archive must be ignored, not
    parsed as TSV prose or crash detect_format."""
    import zipfile

    z = tmp_path / "bundle.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("data.csv", "a,b\n1,2\n3,4\n")
        zf.writestr("README.md", "# not data\njust prose here\n")
        zf.writestr("LICENSE", "MIT\n")
    from biosets_spark.sources.archives import expand_paths

    with pytest.warns(UserWarning, match="non-data member"):
        out = expand_paths([str(z)])
    assert len(out) == 1 and out[0].endswith("data.csv")


def test_parse_split_spec_rejects_mixed_units():
    from biosets_spark.sources.discovery import parse_split_spec

    with pytest.raises(ValueError, match="Mixed absolute/percent"):
        parse_split_spec("train[5:50%]")
    with pytest.raises(ValueError, match="Mixed absolute/percent"):
        parse_split_spec("train[5%:50]")
    # one-sided specs keep working
    assert parse_split_spec("train[:10%]")[0][3] is True
    assert parse_split_spec("train[-80%:]")[0][3] is True
    assert parse_split_spec("train[10:20]")[0][3] is False


def test_compact_parquet_preserves_hive_partitions(spark, tmp_path):
    """r7 review: compacting a hive-partitioned dataset must keep the
    col=value layout (the pruning lever) and count files recursively."""
    import os

    from biosets_spark.sources.sink import compact_parquet

    p = str(tmp_path / "part_ds")
    df = spark.range(100).selectExpr("id", "id % 3 AS g")
    df.repartition(8).write.partitionBy("g").parquet(p)
    stats = compact_parquet(spark, p, target_rows_per_file=1000)
    assert stats["files_before"] > 3
    assert stats["rows"] == 100
    subdirs = sorted(d for d in os.listdir(p) if d.startswith("g="))
    assert subdirs == ["g=0", "g=1", "g=2"], "partition layout lost"
    back = spark.read.parquet(p)
    assert back.count() == 100 and set(back.columns) == {"id", "g"}


def test_read_files_honors_parquet_schema_and_rejects_junk(spark, tmp_path):
    """r7 review: explicit schema/merge_schema must reach the parquet
    reader, and a csv-only option must raise, not vanish."""
    from pyspark.sql import types as T

    from biosets_spark.sources.readers import read_files

    p = str(tmp_path / "t.parquet")
    spark.range(5).selectExpr("CAST(id AS INT) AS id").write.parquet(p)
    pinned = T.StructType([T.StructField("id", T.LongType())])
    df = read_files(spark, p, schema=pinned)
    assert df.schema["id"].dataType.simpleString() == "bigint"
    with pytest.raises(TypeError, match="not supported"):
        read_files(spark, p, skip_rows=2)


def test_read_npz_width_drift_named_error(spark, tmp_path):
    """r7 review: a shard whose width differs from the first file's
    pinned schema must fail with the FILENAME, not a raw pandas shape
    error or a silent column misalignment."""
    import numpy as np

    a = str(tmp_path / "a.npz")
    b = str(tmp_path / "b.npz")
    _write_csr_npz(a, np.ones((4, 3)))
    _write_csr_npz(b, np.ones((4, 2)))
    with pytest.raises(Exception, match="b.npz.*2 columns|columns"):
        read_npz(spark, [a, b]).collect()


def test_read_json_rejects_mixed_modes(spark, tmp_path):
    jl = tmp_path / "a.json"
    jl.write_text('{"x": 1}\n{"x": 2}\n')
    ml = tmp_path / "b.json"
    ml.write_text('{\n  "x": 3\n}\n')
    from biosets_spark.sources.readers import read_json

    assert read_json(spark, str(jl)).count() == 2
    assert read_json(spark, str(ml)).count() == 1
    with pytest.raises(ValueError, match="mix of JSONL and multiLine"):
        read_json(spark, [str(jl), str(ml)])


def test_read_json_probe_handles_bz2_and_xz_is_loud(spark, tmp_path):
    """Regression (r8 review): (1) the JSONL/multiLine probe must
    decompress .json.bz2 before readline — plain open() read
    compressed garbage and mis-verdicted JSONL as multiLine; (2) a
    direct read_json of .json.xz must raise loudly (Spark has no XZ
    codec and would return null rows), while load_dataset handles it
    via driver-side decompression."""
    import bz2
    import lzma

    import pytest

    from biosets_spark.load import load_dataset
    from biosets_spark.sources.readers import read_json

    jb = tmp_path / "a.json.bz2"
    jb.write_bytes(bz2.compress(b'{"a": 1}\n{"a": 2}\n'))
    df = read_json(spark, [str(jb)])
    assert sorted(r.a for r in df.collect()) == [1, 2]

    jx = tmp_path / "b.json.xz"
    jx.write_bytes(lzma.compress(b'{"a": 3}\n'))
    with pytest.raises(ValueError, match="xz/zstd-compressed JSON"):
        read_json(spark, [str(jx)])
    ds = load_dataset(data_files=[str(jb), str(jx)], spark=spark)
    assert sorted(r.a for r in ds.df.collect()) == [1, 2, 3]


def test_read_csv_xz_loud_and_load_dataset_path_works(spark, tmp_path):
    """Regression (r8 review, verified live): Spark's native read of
    .csv.xz parses the COMPRESSED bytes as rows with no error. Direct
    read_csv raises loudly; load_dataset decompresses driver-side;
    skip_rows>0 keeps its existing scratch-decompression path."""
    import lzma

    import pytest

    from biosets_spark.load import load_dataset
    from biosets_spark.sources.readers import read_csv

    p = tmp_path / "x.csv.xz"
    p.write_bytes(lzma.compress(b"a,b\n1,2\n3,4\n"))
    with pytest.raises(ValueError, match="xz-compressed text"):
        read_csv(spark, [str(p)])
    ds = load_dataset(data_files=[str(p)], spark=spark)
    assert sorted((r.a, r.b) for r in ds.df.collect()) == [(1, 2), (3, 4)]
    # skip_rows path decompresses to scratch as before (skip the junk line)
    j = tmp_path / "y.csv.xz"
    j.write_bytes(lzma.compress(b"junk\na,b\n5,6\n"))
    df = read_csv(spark, [str(j)], skip_rows=1)
    assert [(r.a, r.b) for r in df.collect()] == [(5, 6)]


def test_avro_stdlib_codecs_bzip2_xz(spark, tmp_path):
    """r8 verdict task #8 (extended): the Avro spec's bzip2 and xz
    codecs are stdlib in Python (bz2 / lzma), so the pure-Python
    container codec supports them for real — full write->read
    roundtrip, including through the distributed read path."""
    from biosets_spark.sources import avro_py as A
    from biosets_spark.sources.readers import read_files

    schema = {"type": "record", "name": "R", "fields": [
        {"name": "id", "type": "long"},
        {"name": "body", "type": ["null", "string"]}]}
    rows = [(i, ("lorem " * 20) + str(i) if i % 3 else None)
            for i in range(500)]
    fb = str(tmp_path / "b.avro")
    fx = str(tmp_path / "x.avro")
    A.write_container(fb, schema, rows, codec="bzip2", records_per_block=128)
    A.write_container(fx, schema, rows, codec="xz", records_per_block=128)
    for f in (fb, fx):
        back = list(A.iter_records(open(f, "rb").read()))
        assert len(back) == 500
        assert back[7] == {"id": 7, "body": ("lorem " * 20) + "7"}
        assert back[3]["body"] is None
    # compression actually happened (repetitive text shrinks a lot)
    import os as _os
    raw_estimate = sum(len(b or "") for _, b in rows)
    assert _os.path.getsize(fb) < raw_estimate // 4
    df = read_files(spark, [fb, fx])
    assert df.count() == 1000
    assert df.filter("body IS NULL").count() == 334


def test_avro_gated_codecs_snappy_zstandard(tmp_path):
    """r8 verdict task #8: snappy/zstandard are import-gated on their
    libraries. When present: full roundtrip (snappy blocks carry the
    spec's big-endian CRC32-of-uncompressed suffix). When absent: the
    pinned actionable error, on BOTH the write and the read path."""
    import pytest

    from biosets_spark.sources import avro_py as A

    schema = {"type": "record", "name": "R", "fields": [
        {"name": "x", "type": "long"}]}
    for codec, mod in (("snappy", "snappy"), ("zstandard", "zstandard")):
        f = str(tmp_path / f"{codec}.avro")
        try:
            __import__(mod)
            have = True
        except ImportError:
            have = False
        if have:
            A.write_container(f, schema, [(i,) for i in range(100)],
                              codec=codec, records_per_block=32)
            back = list(A.iter_records(open(f, "rb").read()))
            assert [r["x"] for r in back] == list(range(100))
        else:
            with pytest.raises(ValueError,
                               match="needs its decompressor library"):
                A.write_container(f, schema, [(1,)], codec=codec)
            # a header CLAIMING the codec also fails actionably on read
            g = str(tmp_path / f"hdr_{codec}.avro")
            A.write_container(g, schema, [(1,)], codec="null")
            raw = open(g, "rb").read()
            # swap the length-prefixed codec value in the metadata map
            # (zigzag(len) is 2*len for small positive lengths)
            patched = raw.replace(
                b"\x08null", bytes([2 * len(codec)]) + codec.encode(), 1)
            assert patched != raw
            with pytest.raises(ValueError,
                               match="needs its decompressor library"):
                list(A.iter_records(patched))


def test_avro_unknown_codec_rejected(tmp_path):
    """A codec name outside the Avro spec set fails with the
    re-encode guidance, not the install-a-library message."""
    import pytest

    from biosets_spark.sources import avro_py as A

    schema = {"type": "record", "name": "R", "fields": [
        {"name": "x", "type": "long"}]}
    g = str(tmp_path / "weird.avro")
    A.write_container(g, schema, [(1,)], codec="null")
    raw = open(g, "rb").read().replace(b"\x08null", b"\x08lz4!", 1)
    with pytest.raises(ValueError, match="unknown avro codec"):
        list(A.iter_records(raw))


def test_read_files_sees_a_same_size_rewrite(spark, tmp_path):
    """An unchanged file is resolved once per session; rewriting it in
    place, even to the same size, is a memo miss: the new content's
    inferred types are read, not the old relation's."""
    from biosets_spark.sources.readers import read_files

    p = tmp_path / "x.csv"
    p.write_text("a,b\n1,2\n")
    first = read_files(spark, str(p))
    assert read_files(spark, str(p)) is first
    assert first.schema.simpleString() == "struct<a:int,b:int>"

    p.write_text("a,b\nx,y\n")
    again = read_files(spark, str(p))
    assert again is not first
    assert again.schema.simpleString() == "struct<a:string,b:string>"
    assert tuple(again.collect()[0]) == ("x", "y")


def test_read_files_memo_keys_options_and_schema_confs(spark, tmp_path):
    """Other reader options, a changed time zone or timestamp type each
    resolve anew and give the schema an unmemoized read gives; the
    original entry is still served once the confs are back."""
    from pyspark.sql import types as T

    from biosets_spark.sources.readers import _read_files, read_files

    p = str(tmp_path / "t.csv")
    with open(p, "w") as f:
        f.write("id,ts\n1,2024-03-10 02:30:00\n2,2024-03-11 08:00:00\n")

    def unmemoized(**options):
        return _read_files(spark, [p], "csv", options).schema

    default = read_files(spark, p)
    assert default.schema == unmemoized()
    pinned = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("ts", T.StringType())])
    for options in ({"infer_schema": False}, {"schema": pinned},
                    {"column_names": ["x", "y"]}, {"null_values": ["1", "NA"]}):
        got = read_files(spark, p, **options)
        assert got is not default
        assert got.schema == unmemoized(**options), options

    confs = {"spark.sql.session.timeZone": "America/New_York",
             "spark.sql.timestampType": "TIMESTAMP_NTZ"}
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
            got = read_files(spark, p)
            assert got is not default
            assert got.schema == unmemoized(), k
        assert got.schema["ts"].dataType == T.TimestampNTZType()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert read_files(spark, p) is default


def test_read_files_memoizes_only_stat_able_native_reads(spark, tmp_path):
    """A path the driver cannot stat (here a file:// URI) and an Arrow
    read (driver-side data) are resolved on every call."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    from biosets_spark.sources.readers import read_files

    (tmp_path / "x.csv").write_text("a\n1\n")
    uri = "file://" + str(tmp_path / "x.csv")
    assert read_files(spark, uri) is not read_files(spark, uri)
    arrow = str(tmp_path / "x.arrow")
    with ipc.new_file(arrow, pa.schema([("a", pa.int64())])) as w:
        w.write_table(pa.table({"a": [1]}))
    assert read_files(spark, arrow) is not read_files(spark, arrow)


def test_relation_memo_stays_at_its_bound(spark, tmp_path, monkeypatch):
    """Archive members are unpacked to a fresh scratch directory on
    every load, so each load is a new memo key; the memo drops its
    oldest entries to stay at MAX_RELATIONS."""
    from biosets_spark.sources import relations

    monkeypatch.setattr(relations, "MAX_RELATIONS", 3)
    zp = tmp_path / "data.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("data.csv", "sample,h1\ns1,1\ns2,2\n")
    for _ in range(5):
        assert load_dataset(data_files=[str(zp)], spark=spark).num_rows == 2
        assert len(relations._RELATIONS) <= 3
    assert len(relations._RELATIONS) == 3


def test_relation_memo_is_thread_safe(monkeypatch):
    """Threads sharing the memo neither lose its bound nor trip over
    each other's evictions (listing stale keys while another thread
    deletes them raised at the parent's tables memo)."""
    import sys
    import threading

    from biosets_spark.sources import relations

    monkeypatch.setattr(relations, "MAX_RELATIONS", 4)
    monkeypatch.setattr(relations, "_RELATIONS", {})
    session = object()  # no JVM handle: keyed by id()
    errors = []

    def worker(t):
        try:
            for i in range(2000):
                ident, snap = ("stress", (t + i) % 6), (i % 3,)
                got = relations.relation(session, ident, snap, lambda: (ident, snap))
                assert got == (ident, snap)
        except Exception as e:  # reported by the main thread below
            errors.append(e)

    saved = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(saved)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors[:3]
    assert len(relations._RELATIONS) <= 4
    assert len({k[:2] for k in relations._RELATIONS}) == len(relations._RELATIONS)
