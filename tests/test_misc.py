"""Fingerprint cache, multimodal plumbing, labels module units,
discovery parsing."""

import pytest
from pyspark.sql import functions as F

from biosets_spark.operators import labels as L
from biosets_spark.operators import multimodal as MM
from biosets_spark.plans.fingerprint import FingerprintCache, plan_fingerprint
from biosets_spark.sources.discovery import infer_splits, parse_split_spec


def test_plan_fingerprint_stability(spark):
    df1 = spark.range(10).withColumn("y", F.col("id") * 2)
    df2 = spark.range(10).withColumn("y", F.col("id") * 2)
    df3 = spark.range(10).withColumn("y", F.col("id") * 3)
    assert plan_fingerprint(df1) == plan_fingerprint(df2)
    assert plan_fingerprint(df1) != plan_fingerprint(df3)
    assert plan_fingerprint(df1, {"p": 1}) != plan_fingerprint(df1, {"p": 2})


def test_fingerprint_covers_the_schema(spark, tmp_path):
    """One CSV read with and without type inference renders the same
    analyzed plan; the fingerprint covers the schema, so the cache
    never hands the int-typed entry to the string-typed load."""
    from biosets_spark.sources.readers import read_files

    p = tmp_path / "ab.csv"
    p.write_text("a,b\n1,2\n3,4\n")
    typed = read_files(spark, str(p))
    untyped = read_files(spark, str(p), infer_schema=False)
    assert typed.schema.simpleString() == "struct<a:int,b:int>"
    assert plan_fingerprint(typed) != plan_fingerprint(untyped)

    cache = FingerprintCache(str(tmp_path / "fp"))
    assert cache.materialize(typed).schema.simpleString() == "struct<a:int,b:int>"
    back = cache.materialize(untyped)
    assert back.schema.simpleString() == "struct<a:string,b:string>"
    assert sorted(tuple(r) for r in back.collect()) == [("1", "2"), ("3", "4")]


def test_fingerprint_cache_roundtrip(spark, tmp_path):
    cache = FingerprintCache(str(tmp_path / "fpcache"))
    df = spark.range(100).withColumn("y", F.col("id") % 7)
    out1 = cache.materialize(df)
    assert out1.count() == 100
    fp = plan_fingerprint(df)
    assert cache.has(fp)
    out2 = cache.materialize(df)  # hit: served from parquet
    assert out2.count() == 100
    assert cache.clear() == 1


def test_multimodal_image_features(spark):
    rows = [(1, b"fake-image-bytes-aaaa"), (2, b"zz"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in MM.extract_image_features(df).collect()}
    assert out[1].n_bytes == 21 and out[1].width > 0
    assert out[3].n_bytes == 0
    # deterministic fake: same payload -> same phash
    out2 = {r.doc_id: r for r in MM.extract_image_features(df).collect()}
    assert out[1].phash64 == out2[1].phash64


def test_multimodal_real_mode_raises(spark):
    df = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        MM.extract_image_features(df, fake_decode=False).collect()


def test_multimodal_frame_sampling(spark):
    df = spark.createDataFrame([(1, b"v" * 3000)], "doc_id long, payload binary")
    frames = MM.sample_frames(df, every_n_bytes=1024).collect()
    assert [f.frame_no for f in frames] == [0, 1]


def test_attach_media_metadata(spark):
    df = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
    out = MM.attach_media_metadata(df, "payload", "image", "image/png")
    meta = out.first().media_meta
    assert meta.modality == "image" and meta.mime == "image/png"


def test_label_dictionary_sorted(spark):
    df = spark.createDataFrame([("c",), ("a",), ("b",), (None,), ("a",)], "t string")
    assert L.label_dictionary(df, "t") == ["a", "b", "c"]


def test_binary_encode_fallbacks(spark):
    df = spark.createDataFrame([("p",), ("n",), ("x",)], "t string")
    only_pos = df.select(L.binary_encode_expr(F.col("t"), ["p"], None).alias("e")).collect()
    assert [r.e for r in only_pos] == [1, 0, 0]
    only_neg = df.select(L.binary_encode_expr(F.col("t"), None, ["n"]).alias("e")).collect()
    assert [r.e for r in only_neg] == [1, 0, 1]
    both = df.select(L.binary_encode_expr(F.col("t"), ["p"], ["n"]).alias("e")).collect()
    assert [r.e for r in both] == [1, 0, -1]


def test_infer_splits():
    got = infer_splits(["/d/train-a.csv", "/d/test-b.csv", "/d/val-c.csv", "/d/plain.csv"])
    assert got == {
        "train": ["/d/train-a.csv", "/d/plain.csv"],
        "test": ["/d/test-b.csv"],
        "validation": ["/d/val-c.csv"],
    }


def test_parse_split_spec():
    assert parse_split_spec("train") == [("train", None, None, False, "closest")]
    assert parse_split_spec("train[10:20]") == [("train", 10, 20, False, "closest")]
    assert parse_split_spec("train[:10%]") == [("train", None, 10, True, "closest")]
    assert parse_split_spec("train+test") == [
        ("train", None, None, False, "closest"),
        ("test", None, None, False, "closest"),
    ]
    assert parse_split_spec("train[-80%:]") == [("train", -80, None, True, "closest")]
    assert parse_split_spec("train[50%:52%](pct1_dropremainder)") == [
        ("train", 50, 52, True, "pct1_dropremainder")
    ]
    import pytest

    with pytest.raises(ValueError):
        parse_split_spec("train[50%:52%](bogus)")


def test_read_instruction_roundtrip():
    from biosets_spark import ReadInstruction

    ri = ReadInstruction("train", from_=50, to=52, unit="%",
                         rounding="pct1_dropremainder")
    assert ri.to_spec() == "train[50%:52%](pct1_dropremainder)"
    combo = ReadInstruction("train", to=10, unit="%") + ReadInstruction("test")
    assert combo.to_spec() == "train[:10%]+test"
    assert ReadInstruction.from_spec("train[-80%:]").to_spec() == "train[-80%:]"
    import pytest

    with pytest.raises(ValueError):
        ReadInstruction("train", from_=1, to=2, rounding="pct1_dropremainder")


def test_percent_slice_rounding(spark):
    """docs/DATA_LOADING.md:286-309: 999 rows — closest rounding gives
    19/20-row 2% slices; pct1_dropremainder gives equal 18-row slices."""
    from biosets_spark.operators import split as S

    df = spark.range(999).toDF("i")
    assert S.slice_percent(df, 50, 52, order_by=["i"]).count() == 19
    assert S.slice_percent(df, 52, 54, order_by=["i"]).count() == 20
    assert S.slice_percent(df, 50, 52, order_by=["i"],
                           rounding="pct1_dropremainder").count() == 18
    rows = S.slice_percent(df, 50, 52, order_by=["i"],
                           rounding="pct1_dropremainder").collect()
    assert [r.i for r in rows][:2] == [450, 451]
    # negative boundaries count from the end
    assert S.slice_percent(df, -80, None or 100, order_by=["i"]).count() == 999 - 200
    assert S.slice_rows(df, -10, None, order_by=["i"]).count() == 10
    assert [r.i for r in S.slice_rows(df, -3, -1, order_by=["i"]).collect()] == [996, 997]


def test_register_custom_feature_type(spark):
    from biosets_spark.schema import roles
    from pyspark.sql import types as T

    roles.register_feature_type("methylation_beta", T.FloatType())
    assert roles.FEATURE_TYPES["methylation_beta"] == T.FloatType()
    df = spark.createDataFrame([(0.5,)], "cpg1 float")
    tagged = roles.with_role(df, "cpg1", roles.ROLE_FEATURE, feature_type="methylation_beta")
    assert tagged.schema["cpg1"].metadata[roles.FEATURE_TYPE_KEY] == "methylation_beta"


def test_split_concat_spec(spark, tmp_path):
    (tmp_path / "train-d.csv").write_text("sample,h1\ns1,1\ns2,2\n")
    (tmp_path / "test-d.csv").write_text("sample,h1\ns3,3\n")
    from biosets_spark import load_dataset

    ds = load_dataset(path=str(tmp_path), split="train+test", spark=spark)
    assert ds.num_rows == 3


def test_dataset_materialize_cache(spark, tmp_path):
    from biosets_spark.dataset import BioDataset
    from biosets_spark.schema import roles

    df = spark.range(50).withColumn("y", F.col("id") % 5)
    df = roles.with_role(df, "y", roles.ROLE_FEATURE, feature_type="abundance")
    ds = BioDataset(df)
    cache_dir = str(tmp_path / "cache")
    m1 = ds.materialize(cache_dir)
    assert m1.num_rows == 50
    assert m1.fingerprint is not None
    assert roles.get_role(m1.df, "y") == roles.ROLE_FEATURE
    # second materialization of the same lineage hits the cache
    m2 = ds.materialize(cache_dir)
    assert m2.fingerprint == m1.fingerprint
    import os

    assert len([d for d in os.listdir(cache_dir) if d.startswith("cache-")]) == 1


def test_in_memory_constructors(spark):
    from biosets_spark.dataset import BioDataset

    d1 = BioDataset.from_dict({"sample": ["s1", "s2"], "h1": [1, 2]}, spark=spark)
    assert d1.num_rows == 2 and d1.columns == ["sample", "h1"]

    d2 = BioDataset.from_list([{"sample": "s1", "h1": 1}], spark=spark)
    assert d2.num_rows == 1

    import pandas as pd

    d3 = BioDataset.from_pandas(pd.DataFrame({"x": [1, 2, 3]}), spark=spark)
    assert d3.num_rows == 3

    def gen():
        for i in range(4):
            yield {"i": i}

    d4 = BioDataset.from_generator(gen, spark=spark)
    assert d4.num_rows == 4


def test_export_surface_to_dict_unique_iter_add(spark):
    """Reference Dataset export parity: to_dict / unique /
    iter_batches / add_column."""
    from biosets_spark.dataset import BioDataset

    ds = BioDataset.from_dict(
        {"sample": ["s1", "s2", "s3"], "h1": [3, 1, 3]}, spark=spark
    )
    d = ds.to_dict()
    assert d == {"sample": ["s1", "s2", "s3"], "h1": [3, 1, 3]}
    assert ds.unique("h1") == [1, 3]
    batches = list(ds.iter_batches(batch_size=2))
    assert [len(b) for b in batches] == [2, 1]
    assert batches[0][0]["sample"] == "s1"
    with_col = ds.add_column("w", [0.5, 0.25, 0.125])
    assert with_col.columns == ["sample", "h1", "w"]  # appended, not prepended
    got = {r["sample"]: r["w"] for r in with_col.head(5)}
    assert got == {"s1": 0.5, "s2": 0.25, "s3": 0.125}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exists"):
        ds.add_column("h1", [9, 9, 9])
    with _pytest.raises(ValueError, match="dtype"):
        ds.add_column("x", [None, None, None])
    all_null = ds.add_column("x", [None, None, None], dtype="double")
    assert [r["x"] for r in all_null.head(5)] == [None, None, None]


def test_concatenate_datasets_top_level(spark):
    """Reference-parity datasets.concatenate_datasets analogue."""
    from biosets_spark import BioDataset, concatenate_datasets

    a = BioDataset.from_dict({"sample": ["s1"], "h1": [1]}, spark=spark)
    b = BioDataset.from_dict({"sample": ["s2"], "h1": [2]}, spark=spark)
    rows = concatenate_datasets([a, b])
    assert rows.num_rows == 2 and rows.columns == ["sample", "h1"]
    c = BioDataset.from_dict({"w": [0.5]}, spark=spark)
    wide = concatenate_datasets([a, c], axis=1)
    assert wide.num_rows == 1 and set(wide.columns) == {"sample", "h1", "w"}


def test_fingerprint_cache_eviction(spark, tmp_path):
    """Size/TTL bounds: LRU by mtime, hits refresh recency."""
    import os
    import time

    cache = FingerprintCache(str(tmp_path / "fpev"), max_bytes=1)
    df1 = spark.range(50).withColumn("a", F.col("id") + 1)
    df2 = spark.range(50).withColumn("b", F.col("id") + 2)
    cache.materialize(df1)
    # writing entry 2 evicts entry 1 (both exceed the 1-byte bound;
    # oldest goes first, the just-written entry survives the sweep
    # only if under budget — with max_bytes=1 everything older goes)
    cache.materialize(df2)
    entries = [d for d in os.listdir(cache.cache_dir) if d.startswith("cache-")]
    assert len(entries) == 1
    assert cache.has(plan_fingerprint(df2))
    assert not cache.has(plan_fingerprint(df1))

    # TTL path: entries older than max_age are removed
    cache2 = FingerprintCache(str(tmp_path / "fpttl"), max_age_seconds=3600)
    cache2.materialize(df1)
    p = cache2.path_for(plan_fingerprint(df1))
    old = time.time() - 7200
    os.utime(p, (old, old))
    assert cache2.evict() == 1
    assert not cache2.has(plan_fingerprint(df1))

    # unbounded cache never evicts
    cache3 = FingerprintCache(str(tmp_path / "fpnone"))
    cache3.materialize(df1)
    assert cache3.evict() == 0
    assert cache3.has(plan_fingerprint(df1))


def test_from_generator_chunked(spark):
    """Multi-batch generator: schema pinned from chunk 1, all rows
    present, driver holds one chunk at a time."""
    from biosets_spark.dataset import BioDataset

    def gen():
        for i in range(10):
            yield {"i": i, "s": f"r{i}"}

    ds = BioDataset.from_generator(gen, spark=spark, batch_size=3)  # 4 chunks
    assert ds.num_rows == 10
    assert sorted(r["i"] for r in ds.head(20)) == list(range(10))

    # explicit schema + empty generator
    empty = BioDataset.from_generator(lambda: iter(()), schema="i long", spark=spark)
    assert empty.num_rows == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty generator"):
        BioDataset.from_generator(lambda: iter(()), spark=spark)


def test_percent_slice_sugar(spark):
    """ds.slice('10%:20%') / select('[:10%]') parity with the
    load_dataset split-spec grammar (docs/DATA_LOADING.md:251-309)."""
    from biosets_spark.dataset import BioDataset

    ds = BioDataset(spark.range(100).withColumnRenamed("id", "i"))
    assert ds.slice(":10%", order_by=["i"]).num_rows == 10
    assert ds.slice("10%:20%", order_by=["i"]).num_rows == 10
    got = [r["i"] for r in ds.slice("[90%:]", order_by=["i"]).df.collect()]
    assert got == list(range(90, 100))
    assert ds.select(":5", order_by=["i"]).num_rows == 5
    assert [r["i"] for r in ds.slice("3:6", order_by=["i"]).df.collect()] == [3, 4, 5]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="Bad slice spec"):
        ds.slice("nope")


def test_add_column_order_by(spark):
    """order_by pins which row values[i] pairs with, independent of
    physical partition order."""
    from biosets_spark.dataset import BioDataset

    df = spark.createDataFrame(
        [("b", 2), ("c", 3), ("a", 1)], "k string, v int"
    ).repartition(3)
    ds = BioDataset(df)
    out = ds.add_column("tag", ["first", "second", "third"], order_by=["k"])
    got = {r["k"]: r["tag"] for r in out.head(5)}
    assert got == {"a": "first", "b": "second", "c": "third"}


def test_unique_appearance_order(spark):
    from biosets_spark.dataset import BioDataset

    ds = BioDataset.from_dict(
        {"k": ["z", "b", "z", "a", "b", "c"]}, spark=spark
    )
    assert ds.unique("k") == ["a", "b", "c", "z"]
    assert ds.unique("k", order="appearance") == ["z", "b", "a", "c"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="order must be"):
        ds.unique("k", order="nope")


def test_shard(spark):
    """Dataset.shard parity: contiguous NTILE allocation and
    round-robin; shards partition the dataset exactly."""
    from biosets_spark.dataset import BioDataset

    ds = BioDataset(spark.range(10).toDF("i"))
    shards = [ds.shard(3, k, order_by=["i"]) for k in range(3)]
    rows = [sorted(r["i"] for r in s.df.collect()) for s in shards]
    # NTILE allocation over 10 rows / 3 shards: sizes 4, 3, 3, contiguous
    assert rows == [[0, 1, 2, 3], [4, 5, 6], [7, 8, 9]]
    rr = [sorted(r["i"] for r in ds.shard(3, k, order_by=["i"],
                                          contiguous=False).df.collect())
          for k in range(3)]
    assert rr == [[0, 3, 6, 9], [1, 4, 7], [2, 5, 8]]
    import pytest

    with pytest.raises(ValueError):
        ds.shard(3, 3)


def test_exporters_roundtrip(spark, tmp_path):
    """to_csv / to_json / to_parquet write distributed part files that
    read back equal; from_csv/from_json/from_parquet close the loop."""
    from biosets_spark.dataset import BioDataset

    ds = BioDataset(spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "k string, v long"))
    p_csv, p_json, p_parq = (str(tmp_path / n) for n in ("c", "j", "p"))
    ds.to_csv(p_csv)
    ds.to_json(p_json)
    ds.to_parquet(p_parq)

    back_csv = BioDataset.from_csv(p_csv + "/*.csv", spark=spark)
    assert sorted((r["k"], int(r["v"])) for r in back_csv.df.collect()) == \
        [("a", 1), ("b", 2), ("c", 3)]
    back_json = spark.read.json(p_json)
    assert back_json.count() == 3
    back_parq = BioDataset.from_parquet(p_parq, spark=spark)
    assert sorted((r["k"], r["v"]) for r in back_parq.df.collect()) == \
        [("a", 1), ("b", 2), ("c", 3)]


def test_class_encode_column(spark):
    from biosets_spark.dataset import BioDataset

    ds = BioDataset(spark.createDataFrame(
        [("x", "pos"), ("y", "neg"), ("z", "pos")], "s string, lbl string"))
    enc = ds.class_encode_column("lbl")
    got = {r["s"]: r["encoded_labels"] for r in enc.df.collect()}
    # sorted-distinct dictionary: neg=0, pos=1
    assert got == {"x": 1, "y": 0, "z": 1}


def test_dataset_dict_broadcasting(spark, tmp_path):
    """BioDatasetDict: per-split transform broadcasting, split-layout
    save/load round-trip, and load_dataset returning the dict type."""
    from biosets_spark import BioDatasetDict, load_dataset
    from biosets_spark.dataset import BioDataset

    (tmp_path / "train-d.csv").write_text("sample,v\ns1,1\ns2,2\n")
    (tmp_path / "test-d.csv").write_text("sample,v\ns3,3\n")
    dd = load_dataset(path=str(tmp_path), spark=spark)
    assert isinstance(dd, BioDatasetDict)
    assert set(dd) == {"train", "test"}
    assert dd.num_rows == {"train": 2, "test": 1}

    filtered = dd.filter("v > 1")
    assert isinstance(filtered, BioDatasetDict)
    assert filtered.num_rows == {"train": 1, "test": 1}
    renamed = dd.rename_column("v", "value")
    assert renamed.column_names["train"] == ["sample", "value"]

    out = str(tmp_path / "saved")
    dd.save_to_disk(out)
    back = BioDatasetDict.load_from_disk(out, spark=spark)
    assert set(back) == {"train", "test"}
    assert back.num_rows == {"train": 2, "test": 1}
    assert isinstance(back["train"], BioDataset)


def test_with_observation(spark):
    """observe() metrics accumulate during the action itself — no
    second pass — and read back by name."""
    from pyspark.sql import functions as F

    from biosets_spark import BioDataset

    ds = BioDataset(spark.range(0, 1000).withColumn("v", F.col("id") % 7))
    observed = ds.with_observation(
        "checks",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("v")).alias("v_sum"),
        F.count(F.when(F.col("v") == 0, 1)).alias("n_zero"),
    )
    out = observed.filter("v >= 0")   # transforms after observe still count
    assert out.num_rows == 1000       # the action that fills the observation
    m = observed.get_observation("checks")
    assert m["n_rows"] == 1000
    assert m["n_zero"] == 143
    assert m["v_sum"] == sum(i % 7 for i in range(1000))


def test_profile_one_pass(spark):
    """profile() returns row count + per-column nulls/distinct/min/max/
    mean from a single combinable aggregation."""
    from biosets_spark import BioDataset

    ds = BioDataset(spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None), (3, None, 3.5), (3, "a", 4.0)],
        "id long, s string, v double"))
    p = ds.profile()
    assert p["n_rows"] == 4
    assert p["columns"]["s"]["nulls"] == 1
    assert p["columns"]["v"]["nulls"] == 1
    assert p["columns"]["id"]["min"] == 1.0
    assert p["columns"]["id"]["max"] == 3.0
    assert p["columns"]["v"]["mean"] == (1.5 + 3.5 + 4.0) / 3
    assert p["columns"]["id"]["distinct"] == 3   # HLL exact at this scale
    assert "min" not in p["columns"]["s"]        # non-numeric: no min/max


def test_cli_version_and_list():
    """Parity: reference __main__.py exposes --version; ours adds
    list/run."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-m", "biosets_spark", "--version"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert out.returncode == 0 and "0.1.0" in out.stdout
    out = subprocess.run(
        [sys.executable, "-m", "biosets_spark", "list", "bloom"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert out.returncode == 0 and "q_bloom_audit" in out.stdout


def test_quickstart_example_runs(spark):
    """docs/QUICKSTART.md's fenced example must run exactly as
    documented (r5 verdict task #8) — extracted and exec'd verbatim."""
    import os
    import re

    doc = os.path.join(os.path.dirname(__file__), "..", "docs", "QUICKSTART.md")
    blocks = re.findall(r"```python\n(.*?)```", open(doc).read(), re.S)
    assert blocks, "QUICKSTART.md lost its runnable examples"
    for i, block in enumerate(blocks):
        exec(compile(block, f"quickstart_block{i}.py", "exec"), {})


def _make_bmp(width, height, rgb):
    """Minimal bottom-up 24-bit BI_RGB bitmap with constant color."""
    import struct

    row = bytes([rgb[2], rgb[1], rgb[0]] * width)
    row += b"\x00" * ((4 - len(row) % 4) % 4)
    pixels = row * height
    data_off = 14 + 40
    header = b"BM" + struct.pack("<IHHI", data_off + len(pixels), 0, 0, data_off)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      len(pixels), 2835, 2835, 0, 0)
    return header + dib + pixels


def _make_ppm(width, height, rgb):
    return (f"P6\n{width} {height}\n255\n".encode()
            + bytes(rgb) * (width * height))


def _make_wav(rate, n_ch, frames):
    """PCM16 WAV with a constant amplitude-1000 square-ish signal."""
    import struct

    import numpy as np

    samples = (np.ones(frames * n_ch, dtype="<i2") * 1000).tobytes()
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * n_ch * 2, n_ch * 2, 16)
    return (b"RIFF" + struct.pack("<I", 36 + len(samples)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(samples)) + samples)


def test_multimodal_real_decode_uncompressed(spark):
    """r6: BMP / binary PPM / PCM WAV decode for REAL with stdlib-only
    parsers — dims, channel means, sample rate, duration, RMS — via
    the same Arrow-batched mapInPandas plumbing."""
    bmp = _make_bmp(5, 3, (200, 100, 50))
    ppm = _make_ppm(4, 2, (10, 20, 30))
    imgs = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(ppm))], "doc_id long, payload binary"
    )
    stats = {r.doc_id: r for r in MM.extract_image_stats(imgs).collect()}
    assert (stats[1].width, stats[1].height) == (5, 3)
    assert (stats[1].mean_r, stats[1].mean_g, stats[1].mean_b) == (200.0, 100.0, 50.0)
    assert (stats[2].width, stats[2].height) == (4, 2)
    assert (stats[2].mean_r, stats[2].mean_g, stats[2].mean_b) == (10.0, 20.0, 30.0)

    # extract_image_features real mode now works on decodable formats
    feats = {r.doc_id: r for r in
             MM.extract_image_features(imgs, fake_decode=False).collect()}
    assert (feats[1].width, feats[1].height) == (5, 3)

    wav = _make_wav(8000, 1, 4000)  # 0.5 s mono
    audio = spark.createDataFrame([(7, bytearray(wav))], "doc_id long, payload binary")
    a = MM.extract_audio_features(audio).collect()[0]
    assert a.sample_rate == 8000 and a.n_channels == 1
    assert a.duration_ms == 500 and abs(a.rms - 1000.0) < 1e-9


def test_multimodal_compressed_still_gated(spark):
    """Pixel decode for compressed payloads (JPEG magic) still raises
    the actionable import-gated error; JPEG DIMENSIONS (r9) parse
    header-only, so a corrupt JPEG surfaces the SOF scanner's own
    ValueError in the features path. PNG (natively decodable since
    r8) surfaces the decoder's own ValueError on a corrupt body."""
    jpg = b"\xff\xd8\xff\xe0" + b"\x00" * 20
    df = spark.createDataFrame([(1, bytearray(jpg))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="invalid segment|no SOF"):
        MM.extract_image_features(df, fake_decode=False).collect()
    with pytest.raises(Exception, match="PIL|compressed"):
        MM.extract_image_stats(df).collect()
    png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 20
    df2 = spark.createDataFrame([(1, bytearray(png))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="corrupt PNG|missing IHDR"):
        MM.extract_image_stats(df2).collect()


def test_dataset_to_avro_roundtrip(spark, tmp_path):
    """BioDataset.to_avro: distributed sink (JVM datasource preferred,
    stdlib fallback here) reads back identically through read_files."""
    import glob

    from biosets_spark import BioDataset
    from biosets_spark.sources.readers import read_files

    ds = BioDataset(spark.createDataFrame(
        [(i, f"n{i}", i * 0.5) for i in range(100)],
        "id long, name string, score double").repartition(3))
    out = str(tmp_path / "av")
    n = ds.to_avro(out)
    files = sorted(glob.glob(out + "/*.avro"))
    assert (n == 0 and not files) or (n == len(files) > 0)
    back = read_files(spark, files or [out])
    assert back.count() == 100
    assert back.filter("id = 42").collect()[0]["name"] == "n42"


def test_dataset_to_orc_roundtrip(spark, tmp_path):
    """BioDataset.to_orc: Spark-native distributed ORC sink reads back
    identically through read_files, including a hive-partitioned
    layout (partition column recovered on scan)."""
    from biosets_spark import BioDataset
    from biosets_spark.sources.readers import read_files

    ds = BioDataset(spark.createDataFrame(
        [(i, f"n{i}", i % 3) for i in range(90)],
        "id long, name string, grp int").repartition(3))
    flat = str(tmp_path / "orc_flat")
    ds.to_orc(flat)
    back = read_files(spark, [flat])
    assert back.count() == 90
    assert back.filter("id = 42").collect()[0]["name"] == "n42"

    parts = str(tmp_path / "orc_parts")
    ds.to_orc(parts, partition_by="grp")
    import os
    assert any(d.startswith("grp=") for d in os.listdir(parts))
    back2 = spark.read.orc(parts)
    assert back2.count() == 90
    assert set(back2.columns) == {"id", "name", "grp"}
    assert back2.filter("grp = 1").count() == 30


def test_driver_memory_resolved_once():
    """extra_conf's spark.driver.memory must drive -Xms too: deriving
    -Xms from the env default alone makes -Xms12g > -Xmx4g, a fatal
    JVM launch error (r6 ADVICE)."""
    from biosets_spark.session import _resolve_driver_memory

    mem, java, rest = _resolve_driver_memory({"spark.driver.memory": "4g"})
    assert mem == "4g"
    assert "-Xms4g" in java and "12g" not in java
    assert "spark.driver.memory" not in rest

    # caller's extraJavaOptions replaces the derived string wholesale
    mem, java, rest = _resolve_driver_memory(
        {"spark.driver.memory": "4g", "spark.driver.extraJavaOptions": "-Xss2m"}
    )
    assert java == "-Xss2m"
    assert "spark.driver.extraJavaOptions" not in rest

    # default path: env (or 12g) sets both
    mem, java, rest = _resolve_driver_memory(None)
    assert ("-Xms" + mem) in java
    assert rest == {}


def test_relation_cache_invalidates_on_rewrite(spark, tmp_path):
    """r6 verdict task #4: the tables.py relation memo is keyed on an
    input snapshot (path, size, mtime_ns) — rewriting a table file in
    place must be observed WITHOUT a manual refresh()."""
    from biosets_spark import tables

    sf_dir = str(tmp_path)
    p = str(tmp_path / "orders.parquet")
    spark.range(5).selectExpr("id AS o_orderkey").write.mode("overwrite").parquet(p)
    first = tables.load(spark, sf_dir, "orders")
    assert first.count() == 5
    # memo hit while the file is unchanged: same analyzed relation back
    assert tables.load(spark, sf_dir, "orders") is first

    # no sleep: the snapshot keys on st_mtime_ns, so even a same-second
    # same-size rewrite must be observed
    spark.range(9).selectExpr("id AS o_orderkey").write.mode("overwrite").parquet(p)
    fresh = tables.load(spark, sf_dir, "orders")
    assert fresh is not first
    assert fresh.count() == 9


def test_to_dict_columnar_equals_row_path(spark):
    """r6 verdict task #5: to_dict now marshals through Arrow; the
    output must be value-identical to the per-row asDict path across
    nested structs, arrays, timestamps, decimals, binary — and map
    columns (the Arrow-vs-Row representation difference) must keep the
    dict shape via the row fallback."""
    from biosets_spark.dataset import BioDataset

    df = spark.sql("""
        SELECT id,
               named_struct('a', id, 'b', named_struct('c', id * 2)) AS s,
               array(id, id + 1) AS arr,
               timestamp'2024-03-01 12:34:56.789' + make_interval(0,0,0,0,0,0,id) AS ts,
               CAST(id AS DECIMAL(10,2)) / 3 AS dec,
               CAST(concat('b', id) AS BINARY) AS bin,
               CAST(NULL AS STRING) AS always_null
        FROM range(50)
    """)
    got = BioDataset(df).to_dict()
    want: dict[str, list] = {c: [] for c in df.columns}
    for r in df.collect():
        d = r.asDict(recursive=True)
        for c in want:
            want[c].append(d[c])
    assert set(got) == set(want)
    for c in want:
        assert got[c] == want[c], c

    # map column -> row fallback keeps {k: v} dicts
    mdf = spark.sql("SELECT id, map('k', id) AS m FROM range(3)")
    md = BioDataset(mdf).to_dict()
    assert md["m"] == [{"k": 0}, {"k": 1}, {"k": 2}]


def _gif_bytes(indices, palette, w, h, min_code_size=2, interlaced=False):
    """Minimal GIF89a writer (test-only): real LZW with variable code
    width so the decoder's width-growth / clear / KwKwK paths are all
    exercised."""
    import struct

    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code, width = end + 1, min_code_size + 1
    codes = [(clear, width)]
    wbuf = b""
    for px in indices:
        c = bytes([px])
        if wbuf + c in table:
            wbuf += c
            continue
        codes.append((table[wbuf], width))
        table[wbuf + c] = next_code
        if next_code == (1 << width) and width < 12:
            width += 1
        next_code += 1
        wbuf = c
    codes.append((table[wbuf], width))
    codes.append((end, width))
    acc = nbits = 0
    out = bytearray()
    for code, cw in codes:
        acc |= code << nbits
        nbits += cw
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    gct_bits = max((len(palette) - 1).bit_length(), 1) - 1
    hdr = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80 | gct_bits, 0, 0)
    gct = b"".join(bytes(c) for c in palette)
    gct += b"\x00" * (3 * (2 << gct_bits) - len(gct))
    img = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h,
                                0x40 if interlaced else 0)
    img += bytes([min_code_size])
    data = bytes(out)
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        img += bytes([len(chunk)]) + chunk
    img += b"\x00"
    return hdr + gct + img + b"\x3b"


def test_decode_gif_roundtrip():
    """r6 verdict task #8: pure-Python GIF (LZW) decode. The planted
    image has long identical-pixel runs (KwKwK case) and enough
    distinct sequences to force LZW code-width growth."""
    import numpy as np

    from biosets_spark.operators.multimodal import decode_gif

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    w, h = 16, 12
    rng = np.random.RandomState(7)
    idx = rng.randint(0, 4, size=w * h)
    idx[:40] = 2  # long run -> KwKwK
    gif = _gif_bytes(idx, palette, w, h)
    gw, gh, mr, mg, mb = decode_gif(gif)
    px = np.array(palette)[idx]
    assert (gw, gh) == (w, h)
    assert abs(mr - px[:, 0].mean()) < 1e-9
    assert abs(mg - px[:, 1].mean()) < 1e-9
    assert abs(mb - px[:, 2].mean()) < 1e-9

    # interlaced flag path: same image, same means
    rows = idx.reshape(h, w)
    order = np.concatenate([np.arange(0, h, 8), np.arange(4, h, 8),
                            np.arange(2, h, 4), np.arange(1, h, 2)])
    gif_i = _gif_bytes(rows[order].ravel(), palette, w, h, interlaced=True)
    assert decode_gif(gif_i) == (gw, gh, mr, mg, mb)

    # width growth across many codes: a big near-random image
    big = rng.randint(0, 4, size=64 * 64)
    gif_b = _gif_bytes(big, palette, 64, 64)
    bw, bh, br, _, _ = decode_gif(gif_b)
    bpx = np.array(palette)[big]
    assert (bw, bh) == (64, 64) and abs(br - bpx[:, 0].mean()) < 1e-9


def test_extract_image_stats_gif(spark):
    import numpy as np

    from biosets_spark.operators.multimodal import extract_image_stats

    palette = [(0, 0, 0), (255, 255, 255), (128, 0, 128), (0, 128, 0)]
    idx = np.tile(np.arange(4), 25)  # 10x10, mean known
    gif = _gif_bytes(idx, palette, 10, 10)
    df = spark.createDataFrame([(1, bytearray(gif))], "doc_id long, payload binary")
    row = extract_image_stats(df).collect()[0]
    px = np.array(palette)[idx]
    assert (row.width, row.height) == (10, 10)
    assert abs(row.mean_r - px[:, 0].mean()) < 1e-9
    assert row.n_bytes == len(gif)


def test_iter_arrow_streams_record_batches(spark):
    """iter_arrow: columnar driver streaming with bounded batches —
    values must equal a plain collect, batches must respect the row
    bound, and types must come through Arrow-native."""
    import pyarrow as pa

    from biosets_spark.dataset import BioDataset

    df = spark.sql("""
        SELECT id, concat('d', id) AS name, id * 0.5 AS score,
               array(id, id + 1) AS arr
        FROM range(2500)
    """).repartition(4)
    ds = BioDataset(df)
    batches = list(ds.iter_arrow(max_batch_rows=300))
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    assert max(b.num_rows for b in batches) <= 300
    tbl = pa.Table.from_batches(batches)
    assert tbl.num_rows == 2500
    got = sorted(zip(tbl.column("id").to_pylist(), tbl.column("name").to_pylist(),
                     tbl.column("score").to_pylist()))
    want = sorted((r.id, r.name, r.score) for r in df.collect())
    assert got == want
    assert sorted(tbl.column("arr").to_pylist())[0] == [0, 1]


def _tiff_bytes(px, bo="<", photometric=None, rows_per_strip=None):
    """Minimal baseline TIFF writer (test-only): uncompressed strips,
    8-bit gray or RGB, either endianness."""
    import struct

    import numpy as np

    h, w = px.shape[:2]
    nch = 1 if px.ndim == 2 else px.shape[2]
    data = px.astype(np.uint8).tobytes()
    rps = rows_per_strip or h
    strips = [data[r * w * nch * rps:(r + 1) * w * nch * rps]
              for r in range((h + rps - 1) // rps)]
    if photometric is None:
        photometric = 1 if nch == 1 else 2

    entries = []  # (tag, type, count, value_or_values)
    entries.append((256, 3, 1, [w]))
    entries.append((257, 3, 1, [h]))
    entries.append((258, 3, nch, [8] * nch))
    entries.append((259, 3, 1, [1]))
    entries.append((262, 3, 1, [photometric]))
    entries.append((277, 3, 1, [nch]))
    entries.append((278, 3, 1, [rps]))
    # strip offsets/counts patched after layout
    entries.append((273, 4, len(strips), None))
    entries.append((279, 4, len(strips), [len(s) for s in strips]))
    entries.sort()

    hdr = (b"II*\x00" if bo == "<" else b"MM\x00*") + struct.pack(bo + "I", 8)
    ifd_size = 2 + 12 * len(entries) + 4
    extra_pos = 8 + ifd_size
    extra = b""

    def field_bytes(typ, count, vals):
        nonlocal extra
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        sz = {1: 1, 3: 2, 4: 4}[typ] * count
        packed = struct.pack(bo + str(count) + fmt, *vals)
        if sz <= 4:
            return packed + b"\x00" * (4 - sz)
        off = extra_pos + len(extra)
        extra += packed
        return struct.pack(bo + "I", off)

    # two-pass: place strip data after IFD + extra values
    tentative = sum({1: 1, 3: 2, 4: 4}[t] * c for _, t, c, _ in entries
                    if {1: 1, 3: 2, 4: 4}[t] * c > 4)
    data_pos = extra_pos + tentative
    strip_offs, acc = [], data_pos
    for s in strips:
        strip_offs.append(acc)
        acc += len(s)

    body = struct.pack(bo + "H", len(entries))
    for tag, typ, count, vals in entries:
        if tag == 273:
            vals = strip_offs
        body += struct.pack(bo + "HHI", tag, typ, count)
        body += field_bytes(typ, count, vals)
    body += struct.pack(bo + "I", 0)  # no next IFD
    assert len(extra) == tentative
    return hdr + body + extra + b"".join(strips)


def test_decode_tiff_roundtrip():
    """Uncompressed TIFF decode: RGB + grayscale, both endians,
    multi-strip, WhiteIsZero inversion."""
    import numpy as np

    from biosets_spark.operators.multimodal import decode_tiff

    rng = np.random.RandomState(11)
    rgb = rng.randint(0, 256, size=(12, 17, 3))
    for bo in ("<", ">"):
        w, h, mr, mg, mb = decode_tiff(_tiff_bytes(rgb, bo=bo))
        assert (w, h) == (17, 12)
        assert abs(mr - rgb[..., 0].mean()) < 1e-9
        assert abs(mb - rgb[..., 2].mean()) < 1e-9

    gray = rng.randint(0, 256, size=(9, 9))
    w, h, mr, mg, mb = decode_tiff(_tiff_bytes(gray, rows_per_strip=4))
    assert (w, h) == (9, 9) and mr == mg == mb
    assert abs(mr - gray.mean()) < 1e-9

    # WhiteIsZero photometric inverts
    w, h, mr, _, _ = decode_tiff(_tiff_bytes(gray, photometric=0))
    assert abs(mr - (255 - gray).mean()) < 1e-9

    # compressed stays gated
    import pytest as _pt
    blob = bytearray(_tiff_bytes(gray))
    # patch compression tag value to 5 (LZW): find tag 259
    import struct
    n = struct.unpack_from("<H", blob, 8)[0]
    for i in range(n):
        pos = 10 + 12 * i
        if struct.unpack_from("<H", blob, pos)[0] == 259:
            struct.pack_into("<H", blob, pos + 8, 5)
    with _pt.raises(ValueError, match="compression=5"):
        decode_tiff(bytes(blob))


def test_audit_plan_flags_antipatterns(spark):
    """BioDataset.audit_plan surfaces the 100 TB anti-pattern checks:
    each probe plan trips exactly the expected code, and the clean
    plan returns no findings."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from biosets_spark.dataset import BioDataset

    a = spark.range(100).toDF("x")
    b = spark.range(100).toDF("y")

    # cartesian product
    codes = {f["code"] for f in BioDataset(a.crossJoin(b)).audit_plan()}
    assert "cartesian-product" in codes or "nested-loop-join" in codes

    # nested loop allowed when declared
    rng = a.join(b, (F.col("x") < F.col("y")))
    assert any(f["code"] == "nested-loop-join" for f in BioDataset(rng).audit_plan())
    assert not any(f["code"] == "nested-loop-join"
                   for f in BioDataset(rng).audit_plan(allow_nested_loop=True))

    # row-at-a-time python UDF
    from pyspark.sql.functions import udf
    slow = udf(lambda v: v + 1, "long")
    codes = {f["code"] for f in BioDataset(a.select(slow("x"))).audit_plan()}
    assert "python-udf" in codes

    # global window (empty partition spec + order)
    gw = a.withColumn("rn", F.row_number().over(Window.orderBy("x")))
    assert any(f["code"] == "global-window" for f in BioDataset(gw).audit_plan())
    # partitioned window is fine
    pw = a.withColumn("rn", F.row_number().over(
        Window.partitionBy(F.col("x") % 10).orderBy("x")))
    assert not any(f["code"] == "global-window" for f in BioDataset(pw).audit_plan())

    # wide scan threshold
    wide = spark.createDataFrame(
        [tuple(range(12))], ", ".join(f"c{i} int" for i in range(12)))
    import tempfile, os
    d = tempfile.mkdtemp()
    p = os.path.join(d, "w.parquet")
    wide.write.mode("overwrite").parquet(p)
    scan = spark.read.parquet(p)
    assert any(f["code"] == "wide-scan" for f in BioDataset(scan).audit_plan())
    assert not any(f["code"] == "wide-scan"
                   for f in BioDataset(scan.select("c0", "c1")).audit_plan())

    # clean plan: broadcast-joined agg
    clean = (a.groupBy((F.col("x") % 10).alias("g")).agg(F.sum("x").alias("s")))
    assert BioDataset(clean).audit_plan() == []


def test_audit_plan_wide_scan_with_long_column_names(spark, tmp_path):
    """Regression (r7 self-review, verified live): ReadSchema
    truncation is governed by spark.sql.maxMetadataStringLength
    (default 100 chars), so a 30-column scan with realistic names
    previously rendered 'struct<...' with no closing '>' and evaded
    the wide-scan check entirely. Also pins that audit_plan restores
    the caller's session conf."""
    from biosets_spark.dataset import BioDataset

    before_meta = spark.conf.get("spark.sql.maxMetadataStringLength", None)
    wide = spark.createDataFrame(
        [tuple(range(30))],
        ", ".join(f"customer_field_{i} int" for i in range(30)))
    p = str(tmp_path / "wide.parquet")
    wide.write.mode("overwrite").parquet(p)
    ds = BioDataset(spark.read.parquet(p))
    findings = [f for f in ds.audit_plan() if f["code"] == "wide-scan"]
    assert findings, "wide scan with long names must be flagged"
    assert findings[0]["ncols"] >= 10  # structured field, not prose parsing
    after_meta = spark.conf.get("spark.sql.maxMetadataStringLength", None)
    assert after_meta == before_meta, "audit_plan must restore session conf"


def test_decode_tiff_missing_tags_raise_valueerror():
    """Malformed TIFFs missing required IFD tags must raise the
    decoder's documented ValueError surface, not a bare KeyError."""
    import struct

    import pytest as _pt

    from biosets_spark.operators.multimodal import decode_tiff

    # valid header, one-entry IFD carrying only Compression=1
    hdr = b"II*\x00" + struct.pack("<I", 8)
    ifd = struct.pack("<H", 1)
    ifd += struct.pack("<HHI", 259, 3, 1) + struct.pack("<HH", 1, 0)
    ifd += struct.pack("<I", 0)
    with _pt.raises(ValueError, match="required IFD tag"):
        decode_tiff(hdr + ifd)


def test_plan_fingerprint_wide_plan_no_collision(spark):
    """r7 review (verified): plans with >25 output columns truncated in
    the fingerprint rendering, so two plans differing only past the cut
    collided and the cache served the WRONG materialization."""
    from biosets_spark.plans.fingerprint import plan_fingerprint

    cols = [F.lit(i).alias(f"c{i}") for i in range(29)]
    df1 = spark.range(3).select("id", *cols, F.lit(999).alias("c29"))
    df2 = spark.range(3).select("id", *cols, F.lit(-1).alias("c29"))
    assert plan_fingerprint(df1) != plan_fingerprint(df2)
    # and the conf is restored
    assert spark.conf.get("spark.sql.debug.maxToStringFields", None) != "100000"


def test_audit_wide_scan_counts_top_level_fields():
    """r7 review: decimal(10,2) parameters must not inflate the column
    count, and nested struct '>'s must not truncate it."""
    from biosets_spark.plans.audit import audit_plan_text

    dec = ("ReadSchema: struct<" + ",".join(
        f"d{i}:decimal(10,2)" for i in range(6)) + ">")
    assert audit_plan_text(dec) == []  # 6 cols, not 12

    nested = ("ReadSchema: struct<a:struct<x:int,y:int>," + ",".join(
        f"c{i}:int" for i in range(11)) + ">")
    hits = [f for f in audit_plan_text(nested) if f["code"] == "wide-scan"]
    assert hits and hits[0]["ncols"] == 12  # nested fields don't hide width


def test_asof_join_right_map_payload(spark):
    """r7 review (verified crash): a map column in the right payload
    made the tie-break window unorderable (INVALID_ORDERING_TYPE)."""
    from biosets_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10), (1, 20)], "k int, ts int")
    right = spark.sql(
        "SELECT 1 AS k, 5 AS ts, map('a', 1) AS attrs "
        "UNION ALL SELECT 1, 15, map('b', 2)")
    out = {r.ts: r.right_attrs for r in
           asof_join(left, right, on="ts", by="k").collect()}
    assert out[10] == {"a": 1} and out[20] == {"b": 2}


def test_simhash_lane_overflow_raises(spark):
    """r7 review: oversized docs would overflow the packed vote lanes
    (ANSI: cryptic ARITHMETIC_OVERFLOW mid-sum; ANSI off: SILENT
    adjacent-lane carry); the pre-explode guard fails loudly with the
    doc id, and normal-size docs pass."""
    from biosets_spark.operators import dedup as D

    big = " ".join(f"w{i}" for i in range(33000))
    df = spark.createDataFrame([(1, big)], "doc_id long, text string")
    with pytest.raises(Exception, match="32768 shingles"):
        D.simhash(df, shingle_n=1).collect()
    ok = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(1000)))],
        "doc_id long, text string")
    assert D.simhash(ok, shingle_n=1).count() == 1


def test_bm25_empty_corpus(spark):
    from biosets_spark.operators.text import bm25_scores

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bm25_scores(empty, ["spark"]).collect() == []
    blank = spark.createDataFrame([(1, "  ")], "doc_id long, text string")
    assert bm25_scores(blank, ["spark"]).collect() == []


def test_release_pinned_frees_dedup_caches(spark, docs_corpus=None):
    from biosets_spark.operators import dedup as D
    from biosets_spark import release_pinned_indexes

    release_pinned_indexes()  # start clean
    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(20)],
        "doc_id long, text string")
    D.minhash_lsh_pairs(df, threshold=0.5).count()
    D.simhash_pairs(df, max_hamming=3).count()
    assert release_pinned_indexes() >= 2  # shingle + signature caches freed


def test_operator_package_surface():
    """r7 review: every operator module is reachable as a package
    attribute (events/pii/pipeline/ranking were missing; plans.audit
    too)."""
    from biosets_spark import operators, plans

    for mod in ("asof", "concat", "dedup", "events", "graph", "joins",
                "labels", "merge", "multimodal", "pii", "pipeline",
                "ranking", "similarity", "skew", "split", "text"):
        assert hasattr(operators, mod), mod
    assert hasattr(plans, "audit") and hasattr(plans, "fingerprint")


def test_relation_cache_invalidates_nested_rewrite(spark, tmp_path):
    """r7 ADVICE: path_snapshot must recurse — an in-place rewrite of
    a part-file INSIDE a partition subdirectory changes neither the
    subdir entry nor the top level, so a flat scandir served a stale
    plan on partitioned layouts."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from biosets_spark import tables

    sf_dir = str(tmp_path)
    p = str(tmp_path / "orders.parquet")
    spark.createDataFrame(
        [(i, i % 2) for i in range(6)], "o_orderkey long, bucket int"
    ).write.partitionBy("bucket").mode("overwrite").parquet(p)
    first = tables.load(spark, sf_dir, "orders")
    assert first.count() == 6
    assert tables.load(spark, sf_dir, "orders") is first  # memo hit

    # rewrite ONE nested part-file in place (same filename, same dir):
    # only file-level recursion can observe this
    part = sorted(glob.glob(os.path.join(p, "bucket=0", "part-*.parquet")))[0]
    pq.write_table(pa.table({"o_orderkey": pa.array([100, 101, 102, 103],
                                                    type=pa.int64())}), part)
    # drop Hadoop LocalFS checksum sidecars made stale by the rewrite
    # (an external rewriter wouldn't produce them either)
    for crc in glob.glob(os.path.join(p, "bucket=0", ".*.crc")):
        os.remove(crc)
    fresh = tables.load(spark, sf_dir, "orders")
    assert fresh is not first
    # the rewritten rows (keys >= 100) are visible through the reload
    assert fresh.where("o_orderkey >= 100").count() == 4


def test_read_json_mixed_mode_detected_beyond_probe_cap(spark, tmp_path):
    """r7 ADVICE: the JSONL/multiLine probe must cover EVERY .json path
    — a pretty-printed file at index >= 16 used to slip past the
    16-path sample and get silently mis-parsed."""
    import pytest

    from biosets_spark.sources.readers import read_json

    paths = []
    for i in range(20):
        f = tmp_path / f"part{i:02d}.json"
        f.write_text('{"a": %d}\n' % i)  # JSONL: one record per line
        paths.append(str(f))
    bad = tmp_path / "part20.json"
    bad.write_text('{\n  "a": 99\n}\n')  # pretty-printed multiLine doc
    paths.append(str(bad))
    with pytest.raises(ValueError, match="mix of JSONL and multiLine"):
        read_json(spark, paths)


def test_decode_gif_corrupt_raises_valueerror():
    """r7 ADVICE: decode_gif's documented error surface is ValueError —
    truncation mid-block-walk, palette index >= color-table size, and
    a first LZW code out of range must never escape as IndexError."""
    import numpy as np
    import pytest

    from biosets_spark.operators.multimodal import decode_gif

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    idx = np.arange(48) % 4
    good = _gif_bytes(idx, palette, 8, 6)

    # truncated payload: block walk hits EOF
    for cut in (10, len(good) // 2, len(good) - 2):
        with pytest.raises(ValueError):
            decode_gif(good[:cut])

    # palette index out of range: declare a 2-entry color table but
    # emit indices up to 3 (min_code_size=2 keeps the LZW alphabet 4)
    small = _gif_bytes(idx, palette[:2], 8, 6)
    with pytest.raises(ValueError, match="palette index|color table"):
        decode_gif(small)

    # first LZW code out of table range right after a clear
    import struct as _s
    hdr = b"GIF89a" + _s.pack("<HHBBB", 2, 2, 0x80, 0, 0)
    gct = bytes((255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9))
    img = b"\x2c" + _s.pack("<HHHHB", 0, 0, 2, 2, 0) + b"\x02"
    # width 3 after clear: emit clear(100) then code 7 (> end=5, empty)
    payload = bytes([0b00_111_100])  # LSB-first: 100 then 111
    bad_lzw = hdr + gct + img + bytes([len(payload)]) + payload + b"\x00\x3b"
    with pytest.raises(ValueError):
        decode_gif(bad_lzw)


def test_load_dataset_homogeneous_foreign_option_raises(spark, tmp_path):
    """r7 ADVICE: a homogeneous load must NOT silently drop an option
    that only another format understands — skip_rows= with parquet-only
    files now reaches read_files' strict leftover check."""
    import pytest

    from biosets_spark.load import load_dataset

    p = str(tmp_path / "data.parquet")
    spark.range(4).selectExpr("id AS x").write.mode("overwrite").parquet(p)
    with pytest.raises(TypeError, match="not supported for format 'parquet'"):
        load_dataset(data_files=[p], spark=spark, skip_rows=2)
    # the mixed-batch path still takes per-format subsets (no raise):
    # skip_rows applies to the csv group only, parquet ignores it
    csv = tmp_path / "extra.csv"
    csv.write_text("junk line\nx\n7\n8\n9\n")
    ds = load_dataset(data_files=[p, str(csv)], spark=spark, skip_rows=1,
                      header=True)
    assert ds.df.count() == 4 + 3


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body)))


def _png_filter_rows(px_rows, bpp, filters):
    """Apply PNG row filters (test-only encoder side): px_rows is a
    list of bytes (reconstructed scanlines), filters a per-row list of
    filter type ints."""
    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    out = bytearray()
    prev = bytes(len(px_rows[0]))
    for row, f in zip(px_rows, filters):
        out.append(f)
        for i, v in enumerate(row):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if f == 0:
                out.append(v)
            elif f == 1:
                out.append((v - a) & 0xFF)
            elif f == 2:
                out.append((v - b) & 0xFF)
            elif f == 3:
                out.append((v - ((a + b) >> 1)) & 0xFF)
            elif f == 4:
                out.append((v - paeth(a, b, c)) & 0xFF)
        prev = row
    return bytes(out)


def _png_bytes(w, h, depth, ct, scanlines, plte=None, filters=None,
               interlace=0):
    """Minimal PNG writer (test-only). scanlines: list of
    reconstructed scanline BYTES (already packed for sub-byte depths);
    for interlace=1 pass the concatenated per-pass scanline lists as a
    list of (scanline_list, bpp) tuples."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ct]
    bpp = max(1, channels * depth // 8)
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = _png_chunk(b"IHDR", struct.pack(
        ">IIBBBBB", w, h, depth, ct, 0, 0, interlace))
    if interlace:
        raw = b"".join(
            _png_filter_rows(rows, bpp, [0] * len(rows))
            for rows in scanlines if rows)
    else:
        filters = filters or [0] * h
        raw = _png_filter_rows(scanlines, bpp, filters)
    out = sig + ihdr
    if plte is not None:
        out += _png_chunk(b"PLTE", bytes(v for rgb in plte for v in rgb))
    # split the compressed stream over two IDAT chunks (concat path)
    comp = zlib.compress(raw)
    mid = max(1, len(comp) // 2)
    out += _png_chunk(b"IDAT", comp[:mid]) + _png_chunk(b"IDAT", comp[mid:])
    return out + _png_chunk(b"IEND", b"")


def test_decode_png_rgb_all_filters():
    """r7 verdict task #3: native PNG decode. RGB rows encoded with
    every filter type (None/Sub/Up/Average/Paeth) must reconstruct
    exactly."""
    import numpy as np

    from biosets_spark.operators.multimodal import decode_png

    rng = np.random.RandomState(11)
    w, h = 13, 10
    px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    rows = [px[r].tobytes() for r in range(h)]
    filters = [0, 1, 2, 3, 4, 4, 3, 2, 1, 0]
    png = _png_bytes(w, h, 8, 2, rows, filters=filters)
    gw, gh, mr, mg, mb = decode_png(png)
    assert (gw, gh) == (w, h)
    assert abs(mr - px[..., 0].mean()) < 1e-9
    assert abs(mg - px[..., 1].mean()) < 1e-9
    assert abs(mb - px[..., 2].mean()) < 1e-9


def test_decode_png_color_types_and_depths():
    """Palette-4bit, gray-1bit, gray+alpha, RGBA, gray-16bit."""
    import numpy as np

    from biosets_spark.operators.multimodal import decode_png

    rng = np.random.RandomState(3)

    # palette, 4-bit (two indices per byte, MSB first)
    plte = [(250, 10, 0), (0, 200, 30), (5, 5, 250), (7, 8, 9)]
    w, h = 5, 4  # odd width: last nibble of each row is padding
    idx = rng.randint(0, 4, size=(h, w))
    rows = []
    for r in range(h):
        packed = bytearray()
        for i in range(0, w, 2):
            hi = idx[r, i] << 4
            lo = idx[r, i + 1] if i + 1 < w else 0
            packed.append(hi | lo)
        rows.append(bytes(packed))
    png = _png_bytes(w, h, 4, 3, rows, plte=plte, filters=[0, 1, 2, 4])
    gw, gh, mr, mg, mb = decode_png(png)
    exp = np.array(plte)[idx]
    assert (gw, gh) == (w, h)
    assert abs(mr - exp[..., 0].mean()) < 1e-9
    assert abs(mg - exp[..., 1].mean()) < 1e-9
    assert abs(mb - exp[..., 2].mean()) < 1e-9

    # gray 1-bit: 0 -> 0, 1 -> 255
    w, h = 10, 3
    bits = rng.randint(0, 2, size=(h, w))
    rows = [np.packbits(bits[r]).tobytes() for r in range(h)]
    png = _png_bytes(w, h, 1, 0, rows)
    gw, gh, mr, mg, mb = decode_png(png)
    assert (gw, gh) == (w, h) and mr == mg == mb
    assert abs(mr - bits.mean() * 255) < 1e-9

    # gray+alpha 8-bit: alpha ignored in means
    w, h = 6, 6
    ga = rng.randint(0, 256, size=(h, w, 2), dtype=np.uint8)
    rows = [ga[r].tobytes() for r in range(h)]
    png = _png_bytes(w, h, 8, 4, rows, filters=[4] * h)
    _, _, mr, mg, mb = decode_png(png)
    assert mr == mg == mb and abs(mr - ga[..., 0].mean()) < 1e-9

    # RGBA: alpha dropped
    rgba = rng.randint(0, 256, size=(h, w, 4), dtype=np.uint8)
    rows = [rgba[r].tobytes() for r in range(h)]
    png = _png_bytes(w, h, 8, 6, rows, filters=[3] * h)
    _, _, mr, mg, mb = decode_png(png)
    assert abs(mr - rgba[..., 0].mean()) < 1e-9
    assert abs(mb - rgba[..., 2].mean()) < 1e-9

    # gray 16-bit, samples v*257 so the high byte equals v exactly
    g8 = rng.randint(0, 256, size=(h, w), dtype=np.uint16)
    rows = [(g8[r] * 257).astype(">u2").tobytes() for r in range(h)]
    png = _png_bytes(w, h, 16, 0, rows, filters=[1] * h)
    _, _, mr, _, _ = decode_png(png)
    assert abs(mr - g8.mean()) < 1e-9


def test_decode_png_adam7_interlaced():
    """Adam7: pass-scattered scanlines must reassemble to the same
    image (same means, exact)."""
    import numpy as np

    from biosets_spark.operators.multimodal import decode_png

    rng = np.random.RandomState(5)
    w, h = 11, 9  # non-multiples of 8 exercise ragged pass dims
    px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    passes = []
    for x0, y0, dx, dy in ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                           (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                           (0, 1, 1, 2)):
        sub = px[y0::dy, x0::dx]
        passes.append([sub[r].tobytes() for r in range(sub.shape[0])]
                      if sub.size else [])
    png = _png_bytes(w, h, 8, 2, passes, interlace=1)
    gw, gh, mr, mg, mb = decode_png(png)
    assert (gw, gh) == (w, h)
    assert abs(mr - px[..., 0].mean()) < 1e-9
    assert abs(mg - px[..., 1].mean()) < 1e-9
    assert abs(mb - px[..., 2].mean()) < 1e-9


def test_decode_png_corrupt_raises_valueerror():
    """decode_png error contract: ValueError on every malformed
    payload, never IndexError/struct.error/zlib.error."""
    import numpy as np
    import pytest

    from biosets_spark.operators.multimodal import decode_png

    rng = np.random.RandomState(1)
    px = rng.randint(0, 256, size=(4, 4, 3), dtype=np.uint8)
    good = _png_bytes(4, 4, 8, 2, [px[r].tobytes() for r in range(4)])

    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"JFIF....")
    # cuts inside IHDR, inside the first IDAT body, and dropping IDAT
    # entirely (a cut that only loses the IEND trailer is tolerated —
    # the pixel data is complete)
    idat_body = good.index(b"IDAT") + 6
    for cut in (10, idat_body, good.index(b"IDAT") - 4):
        with pytest.raises(ValueError):
            decode_png(good[:cut])
    # palette index beyond PLTE
    rows = [bytes([3, 3, 3]) for _ in range(3)]
    short_plte = _png_bytes(3, 3, 8, 3, rows, plte=[(1, 2, 3), (4, 5, 6)])
    with pytest.raises(ValueError, match="palette index"):
        decode_png(short_plte)
    # corrupted zlib stream
    bad = bytearray(good)
    bad[len(bad) - 30] ^= 0xFF
    with pytest.raises(ValueError):
        decode_png(bytes(bad))


def test_extract_image_stats_png(spark):
    """The mapInPandas stats path decodes PNG payloads natively."""
    import numpy as np

    from biosets_spark.operators.multimodal import extract_image_stats

    rng = np.random.RandomState(9)
    px = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    png = _png_bytes(8, 8, 8, 2, [px[r].tobytes() for r in range(8)],
                     filters=[4] * 8)
    df = spark.createDataFrame([(1, bytearray(png))],
                               "doc_id long, payload binary")
    row = extract_image_stats(df).collect()[0]
    assert (row.width, row.height) == (8, 8)
    assert abs(row.mean_r - px[..., 0].mean()) < 1e-9


def test_all_decoders_valueerror_surface():
    """r8 review: every stdlib decoder raises ValueError (never
    struct.error/IndexError) on truncated or garbage payloads."""
    import numpy as np
    import pytest

    from biosets_spark.operators import multimodal as MM2

    w, h = 6, 4
    px = np.random.RandomState(0).randint(0, 256, (h, w, 3), np.uint8)
    goods = {
        MM2.decode_bmp: _make_bmp(w, h, (10, 20, 30)),
        MM2.decode_gif: _gif_bytes(np.zeros(w * h, int),
                                   [(1, 2, 3), (4, 5, 6), (0, 0, 0),
                                    (9, 9, 9)], w, h),
        MM2.decode_png: _png_bytes(w, h, 8, 2,
                                   [px[r].tobytes() for r in range(h)]),
        MM2.decode_pnm: b"P6\n6 4\n255\n" + px.tobytes(),
    }
    for fn, good in goods.items():
        fn(good)  # sanity: decodes whole
        for cut in range(4, len(good) - 1, max(1, len(good) // 9)):
            try:
                fn(good[:cut])
            except ValueError:
                pass  # the documented surface — anything else fails the test
    # garbage after each magic prefix
    for fn, magic in ((MM2.decode_bmp, b"BM"), (MM2.decode_wav, b"RIFF\x00\x00\x00\x00WAVE"),
                      (MM2.decode_tiff, b"II*\x00"), (MM2.decode_pnm, b"P6")):
        with pytest.raises(ValueError):
            fn(magic + b"\x81\x82\x83")


def test_path_snapshot_follows_directory_symlinks(tmp_path):
    """r8 ADVICE: a symlinked subdirectory inside a table path must be
    recursed (an in-place rewrite of a nested part-file behind the
    symlink must change the snapshot), and a symlink cycle must not
    hang the walk."""
    import os

    from biosets_spark.sources.relations import path_snapshot

    real = tmp_path / "real_parts"
    real.mkdir()
    (real / "part-0.bin").write_bytes(b"v1-payload")
    tbl = tmp_path / "tbl.parquet"
    tbl.mkdir()
    os.symlink(real, tbl / "linked", target_is_directory=True)

    snap1 = path_snapshot(str(tbl))
    assert any("linked/part-0.bin" in rel for rel, _, _ in snap1)

    # same-size in-place rewrite behind the symlink: bump mtime only
    (real / "part-0.bin").write_bytes(b"v2-payload")
    snap2 = path_snapshot(str(tbl))
    assert snap2 != snap1

    # symlink cycle: tbl/linked/back -> tbl must terminate
    os.symlink(tbl, real / "back", target_is_directory=True)
    snap3 = path_snapshot(str(tbl))
    assert any("part-0.bin" in rel for rel, _, _ in snap3)


def _make_jpeg(w, h, sof=0xC0, com_pad=0, fill=0):
    """Minimal structurally-valid JPEG header stream through SOS."""
    import struct

    b = b"\xff\xd8"  # SOI
    b += (b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00"
          + b"\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if com_pad:
        b += b"\xff\xfe" + struct.pack(">H", 2 + com_pad) + b"x" * com_pad
    b += b"\xff" * fill  # legal fill bytes before a marker
    b += bytes([0xFF, sof]) + struct.pack(">HBHHB", 11, 8, h, w, 3)
    b += b"\x01\x11\x00"
    b += b"\xff\xda" + struct.pack(">H", 4) + b"\x00\x00"
    return b + b"\x12\x34" + b"\xff\xd9"


def test_decode_jpeg_dims_header_only():
    """r9 (verdict gap #1): JPEG dimensions from the SOF marker scan,
    no codec — baseline, progressive, fill bytes, COM padding, and a
    restart-marker-free header walk."""
    from biosets_spark.operators.multimodal import (_decode_image,
                                                    decode_jpeg_dims)

    assert decode_jpeg_dims(_make_jpeg(640, 480)) == (640, 480, 3)
    assert decode_jpeg_dims(_make_jpeg(31, 17, sof=0xC2)) == (31, 17, 3)
    assert decode_jpeg_dims(_make_jpeg(8192, 4096, com_pad=511)) == \
        (8192, 4096, 3)
    assert decode_jpeg_dims(_make_jpeg(5, 7, fill=3)) == (5, 7, 3)
    # _decode_image dispatches on the SOI signature
    assert _decode_image(_make_jpeg(100, 50), fake=False) == (100, 50)


def test_decode_jpeg_dims_errors():
    import struct

    import pytest

    from biosets_spark.operators.multimodal import decode_jpeg_dims

    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_dims(b"\x89PNG")
    with pytest.raises(ValueError, match="no SOF"):
        decode_jpeg_dims(_make_jpeg(10, 10)[:8])  # truncated pre-SOF
    with pytest.raises(ValueError, match="no SOF"):
        # SOS with no frame header before it
        decode_jpeg_dims(b"\xff\xd8\xff\xda" + struct.pack(">H", 4)
                         + b"\x00\x00")
    with pytest.raises(ValueError, match="zero dimension"):
        decode_jpeg_dims(_make_jpeg(0, 10))
    with pytest.raises(ValueError, match="desync"):
        decode_jpeg_dims(b"\xff\xd8" + b"\x00" * 8)


def test_decode_webp_dims_variants():
    import struct

    import pytest

    from biosets_spark.operators.multimodal import (_decode_image,
                                                    decode_webp_dims)

    def riff(chunk_id, body):
        pad = b"\x00" if len(body) & 1 else b""
        return (b"RIFF" + struct.pack("<I", 4 + 8 + len(body) + len(pad))
                + b"WEBP" + chunk_id + struct.pack("<I", len(body))
                + body + pad)

    vp8 = riff(b"VP8 ", b"\x00\x00\x00\x9d\x01\x2a"
               + struct.pack("<HH", 320, 240) + b"\x00\x00")
    assert decode_webp_dims(vp8) == (320, 240, "vp8")
    bits = (99) | (77 << 14)
    vp8l = riff(b"VP8L", b"\x2f" + struct.pack("<I", bits))
    assert decode_webp_dims(vp8l) == (100, 78, "vp8l")
    vp8x = riff(b"VP8X", b"\x00" * 4 + (1023).to_bytes(3, "little")
                + (767).to_bytes(3, "little"))
    assert decode_webp_dims(vp8x) == (1024, 768, "vp8x")
    assert _decode_image(vp8, fake=False) == (320, 240)
    with pytest.raises(ValueError, match="not a WebP"):
        decode_webp_dims(b"RIFF\x00\x00\x00\x00WAVE")
    with pytest.raises(ValueError, match="no VP8"):
        decode_webp_dims(b"RIFF" + struct.pack("<I", 4) + b"WEBP")


def _make_flac(rate=44100, ch=2, bits=16, n_samples=441000):
    packed = (rate << 44) | ((ch - 1) << 41) | ((bits - 1) << 36) | n_samples
    streaminfo = (b"\x10\x00\x10\x00"          # min/max blocksize
                  + b"\x00\x00\x00" * 2        # min/max framesize
                  + packed.to_bytes(8, "big")
                  + b"\x00" * 16)              # md5 of raw samples
    return (b"fLaC" + bytes([0x80]) + len(streaminfo).to_bytes(3, "big")
            + streaminfo + b"\xff\xf8rest-of-stream")


def test_decode_flac_info():
    """FLAC STREAMINFO header parse: rate/channels/bits/samples from
    the mandatory first metadata block, no codec."""
    import pytest

    from biosets_spark.operators.multimodal import decode_flac_info

    assert decode_flac_info(_make_flac()) == (44100, 2, 16, 441000)
    assert decode_flac_info(_make_flac(96000, 8, 24, 7)) == (96000, 8, 24, 7)
    # 36-bit total-samples field edge
    big = _make_flac(n_samples=(1 << 36) - 1)
    assert decode_flac_info(big)[3] == (1 << 36) - 1
    with pytest.raises(ValueError, match="fLaC magic"):
        decode_flac_info(b"OggS" + b"\x00" * 40)
    with pytest.raises(ValueError, match="STREAMINFO"):
        decode_flac_info(b"fLaC" + bytes([0x84]) + b"\x00\x00\x22"
                         + b"\x00" * 34)
    with pytest.raises(ValueError, match="truncated"):
        decode_flac_info(b"fLaC\x80\x00\x00")


def _make_mp3(version=3, br_idx=9, sr_idx=0, mode=1, n_frames=0,
              id3_pad=0):
    hdr = bytes([
        0xFF,
        0xE0 | (version << 3) | (1 << 1) | 1,   # sync + version + LayerIII
        (br_idx << 4) | (sr_idx << 2),
        (mode << 6),
    ])
    side = (17 if mode == 3 else 32) if version == 3 else \
           (9 if mode == 3 else 17)
    body = b"\x00" * side
    if n_frames:
        body += b"Xing" + (1).to_bytes(4, "big") + n_frames.to_bytes(4, "big")
    frame = hdr + body + b"\x00" * 64
    if id3_pad:
        sz = id3_pad
        syncsafe = bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                          (sz >> 7) & 0x7F, sz & 0x7F])
        return b"ID3\x04\x00\x00" + syncsafe + b"\x00" * sz + frame
    return frame


def test_decode_mp3_info():
    """MP3 frame-header parse: version/bitrate/samplerate/channels plus
    the Xing frame count, with ID3v2 skip — header-only."""
    import pytest

    from biosets_spark.operators.multimodal import decode_mp3_info

    # MPEG1 Layer III, 128 kbps, 44.1 kHz, joint stereo
    assert decode_mp3_info(_make_mp3()) == (44100, 2, 128, 0)
    # mono + Xing frame count + ID3v2 tag in front
    assert decode_mp3_info(_make_mp3(mode=3, n_frames=9000, id3_pad=300)) \
        == (44100, 1, 128, 9000)
    # MPEG2 table differs: index 9 is 80 kbps, sr_idx 0 -> 22050
    assert decode_mp3_info(_make_mp3(version=2)) == (22050, 2, 80, 0)
    with pytest.raises(ValueError, match="frame sync"):
        decode_mp3_info(b"\x00" * 256)


def _mp4_box(typ, payload):
    return (8 + len(payload)).to_bytes(4, "big") + typ + payload


def _make_mp4(w=1920, h=1080, dur_s=60, timescale=1000, v1=False,
              audio_only=False):
    import struct
    if v1:
        mvhd = (b"\x01\x00\x00\x00" + b"\x00" * 16
                + struct.pack(">IQ", timescale, dur_s * timescale)
                + b"\x00" * 80)
    else:
        mvhd = (b"\x00" * 4 + b"\x00" * 8
                + struct.pack(">II", timescale, dur_s * timescale)
                + b"\x00" * 80)
    tkhd_v = (b"\x00" * 4 + b"\x00" * 20 + b"\x00" * 52
              + struct.pack(">II", w << 16, h << 16))
    tkhd_a = b"\x00" * 4 + b"\x00" * 20 + b"\x00" * 52 + b"\x00" * 8
    traks = _mp4_box(b"trak", _mp4_box(b"tkhd", tkhd_a))
    if not audio_only:
        traks += _mp4_box(b"trak", _mp4_box(b"tkhd", tkhd_v))
    moov = _mp4_box(b"moov", _mp4_box(b"mvhd", mvhd) + traks)
    ftyp = _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    return ftyp + moov + _mp4_box(b"mdat", b"\x00" * 32)


def test_decode_mp4_info():
    """ISO-BMFF box walk: brand + mvhd duration (v0 and v1) + first
    visual trak dimensions; audio-only files report 0x0."""
    import pytest

    from biosets_spark.operators.multimodal import decode_mp4_info

    assert decode_mp4_info(_make_mp4()) == ("isom", 60000, 1920, 1080)
    assert decode_mp4_info(_make_mp4(v1=True, dur_s=7, timescale=90000)) \
        == ("isom", 7000, 1920, 1080)
    assert decode_mp4_info(_make_mp4(audio_only=True)) \
        == ("isom", 60000, 0, 0)
    with pytest.raises(ValueError, match="ftyp"):
        decode_mp4_info(b"\x00\x00\x00\x08free" * 4)
    with pytest.raises(ValueError, match="moov"):
        decode_mp4_info(_mp4_box(b"ftyp", b"isom\x00\x00\x02\x00"))
    with pytest.raises(ValueError, match="invalid box size"):
        decode_mp4_info(_mp4_box(b"ftyp", b"isom")
                        + b"\x00\x00\x00\x03moov")


def test_fingerprint_cache_concurrent_materialize_evict(spark, tmp_path):
    """evict()/materialize() racing from two threads must never hand
    out a frame whose entry was swept mid-write (the r11-advice gap:
    no lock between the miss-write and the returned scan). The
    advisory cache lock (plans/fingerprint.py:_lock, the sink.py
    commit-lock pattern) serializes the lifecycle transitions; every
    handed-out frame must collect the full row count."""
    import threading

    cache = FingerprintCache(str(tmp_path / "fpconc"), max_bytes=1,
                             evict_grace_seconds=300)
    errs = []
    n_rounds = 12

    def build(tag):
        # distinct literal per round -> distinct fingerprint, so every
        # materialize is a miss-write racing the evictor
        return spark.range(50).selectExpr("id", f"id * {tag} as v")

    def writer():
        try:
            for i in range(n_rounds):
                out = cache.materialize(build(i + 1))
                # materialize the handed-out scan NOW: with max_bytes=1
                # a later round's evict may sweep this entry, but the
                # hand-out itself must be intact
                assert out.count() == 50
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def evictor():
        try:
            for _ in range(4 * n_rounds):
                cache.evict()
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=writer),
               threading.Thread(target=evictor),
               threading.Thread(target=evictor)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs


def test_fingerprint_cache_lock_released_on_error(spark, tmp_path):
    """A failing write must not leave the cache lock held."""
    cache = FingerprintCache(str(tmp_path / "fplock"))
    bad = spark.range(5).selectExpr("assert_true(id < 2) as x", "id")
    try:
        cache.materialize(bad)
    except Exception:  # noqa: BLE001
        pass
    # lock is free: a normal materialize proceeds without timing out
    out = cache.materialize(spark.range(7))
    assert out.count() == 7


def test_fingerprint_cache_grace_protects_then_expires(spark, tmp_path):
    """evict_grace_seconds: an in-grace entry survives a size sweep;
    once its mtime ages past the grace window the bound applies."""
    import os
    import time

    cache = FingerprintCache(str(tmp_path / "fpgrace"), max_bytes=1,
                             evict_grace_seconds=300)
    df1 = spark.range(20).withColumn("a", F.col("id") + 1)
    df2 = spark.range(20).withColumn("b", F.col("id") + 2)
    cache.materialize(df1)
    cache.materialize(df2)  # both in grace: nothing swept despite bound
    assert cache.has(plan_fingerprint(df1))
    assert cache.has(plan_fingerprint(df2))
    # age entry 1 out of grace -> size sweep removes it
    p1 = cache.path_for(plan_fingerprint(df1))
    old = time.time() - 600
    os.utime(p1, (old, old))
    assert cache.evict() == 1
    assert not cache.has(plan_fingerprint(df1))
    assert cache.has(plan_fingerprint(df2))
