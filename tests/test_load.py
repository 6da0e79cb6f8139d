"""load_dataset end-to-end: golden rows in the reference's style
(reference tests/test_load.py:693-744, test_biodata.py label policies).
"""

import pytest

from biosets_spark import load_dataset
from biosets_spark.schema import roles


def test_directory_discovery_golden_row(spark, fixture_dir):
    """Reference tests/test_load.py:693-713: auto-discovered metadata is
    joined, encoded_labels appended with the sorted dictionary."""
    ds = load_dataset(path=fixture_dir, spark=spark)
    assert ds.columns == [
        "sample", "batch", "metadata1", "metadata2", "target",
        "header1", "header2", "encoded_labels",
    ]
    rows = {r["sample"]: r for r in ds.head(10)}
    assert rows["sample1"] == {
        "sample": "sample1", "batch": "batch1", "metadata1": "a", "metadata2": 5,
        "target": "a", "header1": 1, "header2": 10, "encoded_labels": 0,
    }
    assert rows["sample4"]["encoded_labels"] == 3
    assert ds.get_sample_col_name() == "sample"
    assert ds.get_feature_metadata()["header1"] == {"metadata1": "x", "metadata2": 1}


def test_split_inference(spark, tmp_path):
    """Reference tests/test_load.py:715-744: train-*/test-* prefixes."""
    (tmp_path / "train-data.csv").write_text("sample,h1\ns1,1\ns2,2\n")
    (tmp_path / "test-data.csv").write_text("sample,h1\ns3,3\n")
    out = load_dataset(path=str(tmp_path), spark=spark)
    assert set(out.keys()) == {"train", "test"}
    assert out["train"].num_rows == 2
    assert out["test"].num_rows == 1


def test_positional_alignment_no_sample_col(spark, tmp_path):
    """FIXTURES §1 variant (a): no sample column -> positional J2."""
    (tmp_path / "data.csv").write_text("header1,header2\n1,10\n2,20\n")
    (tmp_path / "sample_metadata.csv").write_text("batch,target\nb1,a\nb2,b\n")
    with pytest.warns(UserWarning):
        ds = load_dataset(path=str(tmp_path), spark=spark)
    assert ds.num_rows == 2
    assert "batch" in ds.columns and "encoded_labels" in ds.columns


def test_positional_alignment_count_mismatch(spark, tmp_path):
    (tmp_path / "data.csv").write_text("header1\n1\n2\n3\n")
    (tmp_path / "sample_metadata.csv").write_text("batch\nb1\nb2\n")
    with pytest.raises(ValueError, match="equal row counts"):
        with pytest.warns(UserWarning):
            load_dataset(path=str(tmp_path), spark=spark)


def test_single_file_with_metadata(spark, tmp_path):
    """FIXTURES §4: everything in one file."""
    (tmp_path / "data_with_metadata.csv").write_text(
        "sample,metadata1,metadata2,header1,header2,target\n"
        "s1,a,1,1,10,a\ns2,b,2,2,20,b\n"
    )
    ds = load_dataset(path=str(tmp_path), spark=spark)
    assert roles.columns_with_role(ds.df, roles.ROLE_METADATA) == ["metadata1", "metadata2"]
    assert ds.head(1)[0]["encoded_labels"] in (0, 1)


def test_target_collision_rename(spark, tmp_path):
    """FIXTURES §5: data column already named encoded_labels ->
    output gains encoded_labels_ (reference test_biodata.py:1258-1268)."""
    (tmp_path / "multiclass.csv").write_text(
        "header1,header2,encoded_labels\n1,10,a\n2,20,b\n"
    )
    ds = load_dataset(path=str(tmp_path), target_column="encoded_labels", spark=spark)
    assert "encoded_labels_" in ds.columns


def test_binary_labels(spark, tmp_path):
    """FIXTURES §7: positive/negative label mapping."""
    (tmp_path / "d.csv").write_text("sample,h1,target\ns1,1,sick\ns2,2,healthy\ns3,3,unknown\n")
    ds = load_dataset(
        path=str(tmp_path), positive_labels=["sick"], negative_labels=["healthy"], spark=spark
    )
    got = {r["sample"]: r["encoded_labels"] for r in ds.head(5)}
    assert got == {"s1": 1, "s2": 0, "s3": -1}


def test_multi_shard_requires_labels(spark, tmp_path):
    """FIXTURES §7: multiple data files without labels= -> error."""
    (tmp_path / "d1.csv").write_text("sample,h1,target\ns1,1,a\n")
    (tmp_path / "d2.csv").write_text("sample,h1,target\ns2,2,b\n")
    with pytest.raises(ValueError, match="label"):
        load_dataset(path=str(tmp_path), spark=spark)
    ds = load_dataset(path=str(tmp_path), labels=["a", "b", "c"], spark=spark)
    assert ds.num_rows == 2


def test_explicit_labels_unseen_to_minus_one(spark, tmp_path):
    (tmp_path / "d.csv").write_text("sample,h1,target\ns1,1,a\ns2,2,zzz\n")
    ds = load_dataset(path=str(tmp_path), labels=["a", "b"], spark=spark)
    got = {r["sample"]: r["encoded_labels"] for r in ds.head(5)}
    assert got == {"s1": 0, "s2": -1}


def test_regression_target_not_encoded(spark, tmp_path):
    """FIXTURES §7: float target -> regression, no encoding."""
    (tmp_path / "d.csv").write_text("sample,h1,target\ns1,1,0.5\ns2,2,1.5\n")
    ds = load_dataset(path=str(tmp_path), spark=spark)
    assert "encoded_labels" not in ds.columns
    from biosets_spark.operators.labels import task_type

    assert task_type(ds.df, "target") == "regression"


def test_jsonl_and_tsv_inputs(spark, tmp_path):
    (tmp_path / "data.jsonl").write_text('{"sample":"s1","h1":1}\n{"sample":"s2","h1":2}\n')
    ds = load_dataset(path=str(tmp_path), spark=spark)
    assert ds.num_rows == 2
    (tmp_path / "data.jsonl").unlink()
    (tmp_path / "data.tsv").write_text("sample\th1\ns1\t1\n")
    ds2 = load_dataset(path=str(tmp_path), spark=spark)
    assert ds2.num_rows == 1


def test_experiment_type_presets(spark, tmp_path):
    """V3: experiment-type alias tags feature columns."""
    (tmp_path / "otu.csv").write_text("sample,otu1,otu2\ns1,5,3\n")
    ds = load_dataset(path=str(tmp_path), experiment_type="metagenomics", spark=spark)
    meta = ds.df.schema["otu1"].metadata
    assert meta[roles.FEATURE_TYPE_KEY] == "abundance"


def test_decode_roundtrip(spark, fixture_dir):
    ds = load_dataset(path=fixture_dir, spark=spark)
    decoded = ds.decode("encoded_labels").df
    rows = decoded.select("target", "encoded_labels").collect()
    assert all(r.target == r.encoded_labels for r in rows)


def test_save_and_load_roundtrip(spark, fixture_dir, tmp_path):
    from biosets_spark import load_from_disk

    ds = load_dataset(path=fixture_dir, spark=spark)
    out = str(tmp_path / "saved")
    ds.save_to_disk(out)
    back = load_from_disk(spark, out)
    assert back.columns == ds.columns
    assert roles.get_role(back, "sample") == roles.ROLE_SAMPLE
    assert roles.get_labels(back, "encoded_labels") == ["a", "b", "c", "d"]


def test_npz_non_csr_requires_scipy(spark, tmp_path):
    """CSR reads scipy-free; other sparse layouts gate behind scipy."""
    import numpy as np

    from biosets_spark.sources.npz import read_npz

    try:
        import scipy  # noqa: F401

        pytest.skip("scipy installed; gate not exercised")
    except ImportError:
        pass
    p = str(tmp_path / "coo.npz")
    np.savez(p, data=np.array([1.0]), row=np.array([0]), col=np.array([0]),
             shape=np.array([1, 1]), format=np.bytes_("coo"))
    with pytest.raises(ImportError, match="scipy"):
        read_npz(spark, p)


def test_split_spec_slicing(spark, tmp_path):
    (tmp_path / "train-d.csv").write_text("sample,h1\n" + "".join(f"s{i},{i}\n" for i in range(10)))
    ds = load_dataset(path=str(tmp_path), split="train[2:5]", spark=spark)
    assert ds.num_rows == 3
    ds_pct = load_dataset(path=str(tmp_path), split="train[:50%]", spark=spark)
    assert ds_pct.num_rows == 5
    # ReadInstruction form of the same slice
    from biosets_spark import ReadInstruction

    ri = ReadInstruction("train", to=50, unit="%")
    assert load_dataset(path=str(tmp_path), split=ri, spark=spark).num_rows == 5
    # split list -> list of datasets (k-fold pattern)
    folds = load_dataset(
        path=str(tmp_path),
        split=[f"train[{k}%:{k + 50}%]" for k in (0, 50)],
        spark=spark,
    )
    assert [f.num_rows for f in folds] == [5, 5]
    # negative percent boundary counts from the end
    tail = load_dataset(path=str(tmp_path), split="train[-20%:]", spark=spark)
    assert tail.num_rows == 2


def test_add_missing_columns_from_feature_metadata(spark, tmp_path):
    """S14/P13: feature declared in metadata but absent from data ->
    filled (null, or 0 with zero_as_missing) and role-tagged."""
    (tmp_path / "d.csv").write_text("sample,header1\ns1,1\ns2,2\n")
    (tmp_path / "feature_metadata.csv").write_text(
        "feature,note\nheader1,x\nheader2,y\n"
    )
    import warnings as W

    with W.catch_warnings():
        W.simplefilter("ignore")
        ds = load_dataset(path=str(tmp_path), add_missing_columns=True, spark=spark)
    assert "header2" in ds.columns
    assert all(r["header2"] is None for r in ds.head(5))
    with W.catch_warnings():
        W.simplefilter("ignore")
        ds0 = load_dataset(path=str(tmp_path), add_missing_columns=True,
                           zero_as_missing=True, spark=spark)
    assert all(r["header2"] == 0 for r in ds0.head(5))


def test_csv_reader_options(spark, tmp_path):
    """S1 reader options: custom sep, null sentinel, skip rows."""
    (tmp_path / "d.csv").write_text("junk line\nsample;h1\ns1;NA\ns2;5\n")
    from biosets_spark.sources.readers import read_csv

    df = read_csv(spark, str(tmp_path / "d.csv"), sep=";", skip_rows=1,
                  null_values=["NA"])
    rows = {r.sample: r.h1 for r in df.collect()}
    assert rows == {"s1": None, "s2": 5}


def test_json_nested_field(spark, tmp_path):
    """S3: field= selects a nested record list."""
    (tmp_path / "d.json").write_text('{"version": 1, "data": [{"sample": "s1", "h1": 1}, {"sample": "s2", "h1": 2}]}')
    from biosets_spark.sources.readers import read_json

    df = read_json(spark, str(tmp_path / "d.json"), field="data")
    assert df.count() == 2 and set(df.columns) == {"sample", "h1"}


def test_sharded_disjoint_samples(spark, tmp_path):
    """FIXTURES §1 variant (c): two shards with disjoint samples union
    into one split with consistent label codes from explicit labels."""
    (tmp_path / "data_1.csv").write_text("sample,h1,target\ns1,1,a\ns2,2,b\ns3,3,a\n")
    (tmp_path / "data_2.csv").write_text("sample,h1,target\ns4,4,c\ns5,5,b\ns6,6,c\ns7,7,a\n")
    ds = load_dataset(path=str(tmp_path), labels=["a", "b", "c"], spark=spark)
    assert ds.num_rows == 7
    got = {r["sample"]: r["encoded_labels"] for r in ds.head(10)}
    assert got["s1"] == 0 and got["s5"] == 1 and got["s6"] == 2


def test_remote_uri_discovery_file_scheme(spark, tmp_path):
    """Scheme-qualified URIs route through Hadoop-FS listing (the same
    resolver spark.read uses for s3a://, hdfs://, ...); file:// proves
    the path end-to-end without external services."""
    (tmp_path / "data.csv").write_text("sample,h1\ns1,1\ns2,2\n")
    (tmp_path / "sample_metadata.csv").write_text("sample,target\ns1,a\ns2,b\n")
    uri = "file://" + str(tmp_path)
    ds = load_dataset(path=uri, spark=spark)
    assert ds.num_rows == 2
    rows = {r["sample"]: r for r in ds.head(5)}
    assert rows["s1"]["target"] == "a" and rows["s1"]["h1"] == 1
    assert "encoded_labels" in ds.columns


def test_remote_uri_single_file(spark, tmp_path):
    (tmp_path / "only.csv").write_text("sample,h1\ns1,7\n")
    ds = load_dataset(path="file://" + str(tmp_path / "only.csv"), spark=spark)
    assert ds.num_rows == 1 and ds.head(1)[0]["h1"] == 7


def test_feature_metadata_set_containment_key(spark, tmp_path):
    """J5 (reference biodata.py:681-686): the feature-metadata key
    column has no pattern-matchable name ('gene'), but its VALUES
    contain every data feature column name -> per-column metadata
    still attaches, keyed by containment."""
    (tmp_path / "d.csv").write_text("sample,geneA,geneB\ns1,1,10\ns2,2,20\n")
    (tmp_path / "feature_metadata.csv").write_text(
        "note,gene,weight\nx,geneA,1\ny,geneB,2\n"
    )
    ds = load_dataset(path=str(tmp_path), spark=spark)
    assert ds.get_feature_metadata()["geneA"] == {"note": "x", "weight": 1}
    assert ds.get_feature_metadata()["geneB"] == {"note": "y", "weight": 2}


def test_feature_metadata_containment_survives_metadata_join(spark, tmp_path):
    """J5 containment must be decided on the PRE-enrichment data
    columns: joined covariates (age) are not in the key column's values
    and previously defeated containment for every candidate key."""
    (tmp_path / "d.csv").write_text("sample,geneA,geneB\ns1,1,10\ns2,2,20\n")
    (tmp_path / "sample_metadata.csv").write_text("sample,age\ns1,30\ns2,40\n")
    (tmp_path / "feature_metadata.csv").write_text(
        "note,gene,weight\nx,geneA,1\ny,geneB,2\n"
    )
    ds = load_dataset(path=str(tmp_path), spark=spark)
    assert ds.get_feature_metadata()["geneA"] == {"note": "x", "weight": 1}
    assert ds.get_feature_metadata()["geneB"] == {"note": "y", "weight": 2}
    assert "age" in ds.columns


def test_feature_metadata_containment_fallback_warns(spark, tmp_path):
    """No pattern key AND no containing column -> first column + warning
    (reference FEATURE_COLUMN_WARN_MSG path)."""
    (tmp_path / "d.csv").write_text("sample,h1\ns1,1\n")
    (tmp_path / "feature_metadata.csv").write_text("note,weight\nx,1\n")
    with pytest.warns(UserWarning, match="value-containment"):
        ds = load_dataset(path=str(tmp_path), spark=spark)
    assert ds.num_rows == 1


def test_feature_metadata_driver_collect_guard(spark, tmp_path, monkeypatch):
    """Feature metadata is driver-collected (one row per data column);
    a row-shaped file passed by mistake must warn past the soft cap and
    refuse past the hard cap instead of ballooning the driver."""
    import biosets_spark.load as load_mod

    (tmp_path / "d.csv").write_text("sample,geneA,geneB\ns1,1,10\n")
    (tmp_path / "feature_metadata.csv").write_text(
        "gene,weight\n" + "".join(f"g{i},{i}\n" for i in range(6))
    )
    monkeypatch.setattr(load_mod, "FEATURE_METADATA_WARN_ROWS", 2)
    # the rows are memoized after the first load: both guards are
    # judged again on the repeat load
    monkeypatch.setattr(load_mod, "FEATURE_METADATA_HARD_CAP", 3)
    for _ in range(2):
        with pytest.raises(ValueError, match="row-shaped data"):
            load_dataset(path=str(tmp_path), spark=spark)
    # rows limited to a smaller cap are not served under a larger one
    monkeypatch.setattr(load_mod, "FEATURE_METADATA_HARD_CAP", 10)
    for _ in range(2):
        with pytest.warns(UserWarning, match="has 6 rows"):
            load_dataset(path=str(tmp_path), spark=spark)


def test_free_function_accessors(spark, fixture_dir):
    """Reference arrow_dataset.py:141-255 module-level accessor parity:
    the same role queries as the methods, with the reference's
    None/flatten return conventions."""
    import biosets_spark as B

    ds = load_dataset(path=fixture_dir, spark=spark)
    assert B.get_sample_col_name(ds) == "sample"
    assert B.get_batch_col_name(ds) == "batch"
    assert B.get_metadata_col_names(ds) == ["sample", "batch", "metadata1", "metadata2"]
    # two target-role columns (raw + encoded) -> list either way;
    # a single target would flatten to a bare string
    assert B.get_target_col_names(ds) == ["target", "encoded_labels"]
    assert B.get_target_col_names(ds, flatten=False) == ["target", "encoded_labels"]
    single = ds.remove_columns("encoded_labels")
    assert B.get_target_col_names(single) == "target"
    # data = complement of metadata+target (encoded_labels is target-role)
    data_cols = B.get_data_col_names(ds)
    assert data_cols == ["header1", "header2"]
    assert B.get_data(ds).columns == data_cols
    assert set(B.get_target(ds).columns) == {"target", "encoded_labels"}
    assert B.get_sample_metadata(ds).columns == ["sample", "batch", "metadata1", "metadata2"]
    assert B.get_feature_metadata(ds)["header2"] == {"metadata1": "y", "metadata2": 2}
    # decode on a non-target column is a no-op, not an error
    assert B.decode(ds, "header1") is ds
    decoded = B.decode(ds, "encoded_labels")
    assert "encoded_labels" in decoded.columns


def test_cleanup_cache_files(spark, tmp_path):
    """Top-level cleanup_cache_files removes materialized cache entries
    and reports the count (reference arrow_dataset.py:255)."""
    import biosets_spark as B
    from biosets_spark.plans.fingerprint import FingerprintCache

    cache_dir = str(tmp_path / "cache")
    fc = FingerprintCache(cache_dir)
    df = spark.range(10).withColumnRenamed("id", "x")
    fc.materialize(df)
    assert B.cleanup_cache_files(cache_dir) == 1
    assert B.cleanup_cache_files(cache_dir) == 0


def test_from_dict_rejects_unequal_lengths(spark):
    """r7 review: zip() silently truncated every column to the
    shortest list — a core constructor must refuse instead."""
    from biosets_spark.dataset import BioDataset

    with pytest.raises(ValueError, match="unequal column lengths"):
        BioDataset.from_dict({"a": [1, 2, 3], "b": [10]}, spark=spark)
    ok = BioDataset.from_dict({"a": [1, 2], "b": [10, 20]}, spark=spark)
    assert ok.num_rows == 2


def test_select_range_step_and_slice_mixed_units(spark):
    """r7 review: range.step was ignored (every row in [start, stop)
    came back) and mixed-unit slices were treated as all-percent."""
    from biosets_spark.dataset import BioDataset

    ds = BioDataset(spark.range(100).toDF("i"))
    stepped = ds.select(range(0, 100, 2), order_by=["i"])
    assert stepped.num_rows == 50
    assert sorted(r.i for r in stepped.df.collect())[:3] == [0, 2, 4]
    with pytest.raises(ValueError, match="Mixed absolute/percent"):
        ds.slice("5:50%", order_by=["i"])


def test_joined_metadata_columns_tagged_metadata(spark, tmp_path):
    """r7 review: covariates joined in from sample_metadata_files
    (age/sex — names matching no metadata pattern) were tagged
    ROLE_FEATURE and landed in the training matrix."""
    (tmp_path / "data.csv").write_text(
        "sample,f1,f2\ns1,1.0,2.0\ns2,3.0,4.0\n")
    (tmp_path / "meta.csv").write_text(
        "sample,age,sex\ns1,34,F\ns2,55,M\n")
    from biosets_spark import load_dataset

    ds = load_dataset(
        data_files=[str(tmp_path / "data.csv")],
        sample_metadata_files=[str(tmp_path / "meta.csv")],
        spark=spark)
    meta_cols = set(ds.get_sample_metadata().columns)
    data_cols = set(ds.get_data().columns)
    assert {"age", "sex"} <= meta_cols
    assert not {"age", "sex"} & data_cols


def test_observations_survive_transforms(spark):
    """r7 review: _wrap dropped the _observations map, so
    get_observation returned {} after any transform."""
    from biosets_spark.dataset import BioDataset

    from pyspark.sql import functions as F

    ds = BioDataset(spark.range(10).toDF("x"))
    observed = ds.with_observation("m", F.count(F.lit(1)).alias("n"))
    filtered = observed.filter("x >= 0")
    filtered.df.collect()
    assert filtered.get_observation("m") == {"n": 10}


def test_streaming_rejects_multiple_explicit_files(spark, tmp_path):
    (tmp_path / "a.csv").write_text("x\n1\n")
    (tmp_path / "b.csv").write_text("x\n2\n")
    from biosets_spark import load_dataset

    with pytest.raises(ValueError, match="single file"):
        load_dataset(
            data_files=[str(tmp_path / "a.csv"), str(tmp_path / "b.csv")],
            streaming=True, spark=spark)


def test_streaming_dir_includes_subdirs_and_skips_preamble_opts(spark, tmp_path):
    """r7 review: the flat glob missed subdirectory files, and
    untranslatable batch options (skip_rows) silently diverged the
    stream from the batch read — now recursive + loud."""
    sub = tmp_path / "part1"
    sub.mkdir()
    (tmp_path / "a.csv").write_text("x,y\n1,2\n")
    (sub / "b.csv").write_text("x,y\n3,4\n")
    from biosets_spark import load_dataset

    stream = load_dataset(path=str(tmp_path), streaming=True, spark=spark)
    q = (stream.df if hasattr(stream, "df") else stream).writeStream \
        .format("memory").queryName("r7_stream_subdir").trigger(availableNow=True).start()
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM r7_stream_subdir").count()
    assert rows == 2  # both the top-level and the subdirectory file

    with pytest.raises(ValueError, match="no streaming translation"):
        load_dataset(path=str(tmp_path), streaming=True, skip_rows=1, spark=spark)


def _project_nodes(plan) -> int:
    children = plan.children()
    return int(plan.nodeName() == "Project") + sum(
        _project_nodes(children.apply(i)) for i in range(children.size()))


def _write_wide_cohort(d, width: int) -> list[str]:
    """Six samples x ``width`` features, one of them dotted, plus a
    feature declared in the feature metadata but absent from the data."""
    features = ["OTU.1"] + [f"gene_{j}" for j in range(width - 1)]
    d.mkdir()
    (d / "counts.csv").write_text("".join(
        ",".join(row) + "\n" for row in
        [["sample", *features]]
        + [[f"s{i}", *(str(i * j) for j in range(width))] for i in range(6)]))
    (d / "sample_metadata.csv").write_text("sample,batch,age,target\n" + "".join(
        f"s{i},b{i % 2},{30 + i},{'ab'[i % 2]}\n" for i in range(6)))
    (d / "feature_metadata.csv").write_text("feature,symbol\n" + "".join(
        f"{f},SYM_{f}\n" for f in [*features, "absent_gene"]))
    return features


def test_role_tagging_projection_count_is_width_invariant(spark, tmp_path):
    """Every column's role is applied in one projection, so the analyzed
    plan has as many Project nodes at width 64 as at width 4 (tagging
    column by column stacked one Project per column). Roles, feature
    types, per-column feature metadata (J4), the label dictionary and
    the add_missing_columns fill all keep their tags, and the tags are
    in the Parquet files of a materialized cache entry, not only
    re-applied on read."""
    import glob
    import warnings as W

    projects = {}
    for width in (4, 64):
        d = tmp_path / f"w{width}"
        features = _write_wide_cohort(d, width)
        with W.catch_warnings():
            W.simplefilter("ignore")
            ds = load_dataset(path=str(d), experiment_type="otu",
                              add_missing_columns=True, spark=spark)
        projects[width] = _project_nodes(ds.df._jdf.queryExecution().analyzed())

        df = ds.df
        assert roles.columns_with_role(df, roles.ROLE_SAMPLE) == ["sample"]
        assert roles.columns_with_role(df, roles.ROLE_BATCH) == ["batch"]
        assert roles.columns_with_role(df, roles.ROLE_METADATA) == ["age"]
        assert roles.columns_with_role(df, roles.ROLE_TARGET) == ["target", "encoded_labels"]
        assert roles.columns_with_role(df, roles.ROLE_FEATURE) == [*features, "absent_gene"]
        for f in [*features, "absent_gene"]:
            meta = df.schema[f].metadata
            assert meta[roles.FEATURE_TYPE_KEY] == "abundance"
            assert meta[roles.META_KEY] == {"symbol": f"SYM_{f}"}
        assert df.schema["absent_gene"].dataType == roles.FEATURE_TYPES["abundance"]
        assert roles.get_labels(df, "encoded_labels") == ["a", "b"]
        assert df.schema["encoded_labels"].metadata[roles.FEATURE_TYPE_KEY] == "class_label"
        rows = {r["sample"]: r for r in ds.head(6)}
        assert rows["s3"]["OTU.1"] == 0 and rows["s3"]["gene_0"] == 3
        assert rows["s3"]["encoded_labels"] == 1 and rows["s3"]["absent_gene"] is None

        cache_dir = tmp_path / f"cache{width}"
        ds.materialize(str(cache_dir))
        (entry,) = glob.glob(str(cache_dir / "cache-*.parquet"))
        assert roles.roles_snapshot(spark.read.parquet(entry)) == roles.roles_snapshot(df)
    assert projects[4] == projects[64]


def _write_small_cohort(d, fmt: str, targets: str = "abab", symbols: str = "AB",
                        g1: str = "1234") -> None:
    """Four samples x two features, with one digit of ``g1`` per sample
    for the first feature, sample metadata with one target label per
    character of ``targets`` (a fifth one is a sample no data row has)
    and feature metadata with one symbol per feature (a third one is a
    feature no data column has)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d.mkdir(exist_ok=True)
    data = {"sample": ["s1", "s2", "s3", "s4"], "g1": [int(c) for c in g1], "g2": [5, 6, 7, 8]}
    if fmt == "parquet":
        pq.write_table(pa.table(data), str(d / "counts.parquet"))
    else:
        (d / "counts.csv").write_text("sample,g1,g2\n" + "".join(
            f"{s},{a},{b}\n" for s, a, b in zip(*data.values())))
    (d / "sample_metadata.csv").write_text("sample,target\n" + "".join(
        f"s{i},{t}\n" for i, t in enumerate(targets, 1)))
    (d / "feature_metadata.csv").write_text("feature,symbol\n" + "".join(
        f"g{i},{s}\n" for i, s in enumerate(symbols, 1)))


def _facts(ds) -> tuple:
    """What a load derives from its files: schema with every role tag,
    J4 feature metadata and label dictionary."""
    df = ds.df
    return (df.schema, roles.get_labels(df, "encoded_labels"),
            {c: df.schema[c].metadata.get(roles.META_KEY) for c in ("g1", "g2")})


@pytest.mark.parametrize("fmt", ["csv", "parquet"])
def test_reload_of_unchanged_cohort_submits_no_source_job(spark, tmp_path, count_jobs, fmt):
    """The first load of a cohort resolves its sources (CSV header and
    inference jobs, Parquet footer jobs); a second load of the unchanged
    files in the same session reuses the resolved relations and submits
    no job at all."""
    d = tmp_path / fmt
    _write_small_cohort(d, fmt)

    def load():
        return load_dataset(path=str(d), labels=["a", "b"], spark=spark)

    first, cold = count_jobs(load)
    again, warm = count_jobs(load)
    assert cold > 0
    assert warm == 0
    assert again.df.schema == first.df.schema
    rows = {r["sample"]: r for r in again.head(4)}
    assert rows["s3"]["g1"] == 3 and rows["s3"]["encoded_labels"] == 0


# jobs of a cold load before the facts were memoized: the source
# resolution, the feature-metadata collect and the label dictionary
COLD_LOAD_JOBS = {"csv": 10, "parquet": 9}


@pytest.mark.parametrize("fmt", ["csv", "parquet"])
def test_reload_with_inferred_labels_submits_no_job(spark, tmp_path, count_jobs, fmt):
    """The feature-metadata rows and the inferred label dictionary are
    facts of the memoized relations: a repeat load of unchanged files
    submits no job and derives the same schema, role tags, J4 metadata
    and dictionary; the cold load submits no more jobs than before."""
    d = tmp_path / fmt
    _write_small_cohort(d, fmt)

    def load():
        return load_dataset(path=str(d), spark=spark)

    first, cold = count_jobs(load)
    again, warm = count_jobs(load)
    assert 0 < cold <= COLD_LOAD_JOBS[fmt]
    assert warm == 0
    assert _facts(again) == _facts(first)
    assert _facts(first)[1:] == (["a", "b"], {"g1": {"symbol": "A"}, "g2": {"symbol": "B"}})
    assert roles.columns_with_role(again.df, roles.ROLE_FEATURE) == ["g1", "g2"]
    assert roles.columns_with_role(again.df, roles.ROLE_TARGET) == ["target", "encoded_labels"]


def test_same_size_rewrite_invalidates_load_facts(spark, tmp_path):
    """Rewriting a data or metadata file in place with the same size is
    a miss of the facts and the plan derived from it: one label changed
    gives the new dictionary, one symbol changed gives the new J4
    metadata, one data value changed gives the new value."""
    d = tmp_path / "cohort"
    _write_small_cohort(d, "csv")
    size = (d / "sample_metadata.csv").stat().st_size

    def load():
        return _facts(load_dataset(path=str(d), spark=spark))

    assert load()[1] == ["a", "b"]
    _write_small_cohort(d, "csv", targets="abac")
    assert (d / "sample_metadata.csv").stat().st_size == size
    assert load()[1] == ["a", "b", "c"]
    assert load()[2] == {"g1": {"symbol": "A"}, "g2": {"symbol": "B"}}
    _write_small_cohort(d, "csv", targets="abac", symbols="AC")
    assert load()[2] == {"g1": {"symbol": "A"}, "g2": {"symbol": "C"}}
    _write_small_cohort(d, "csv", targets="abac", symbols="AC", g1="9234")
    rows = load_dataset(path=str(d), spark=spark).head(4)
    assert {r["sample"]: r["g1"] for r in rows}["s1"] == 9


def test_label_dictionary_is_computed_on_the_joined_frame(spark, tmp_path, count_jobs):
    """A sample-metadata row whose sample no data row has adds no label
    under the left join, on the cold load and on the hit: computing
    the dictionary on the metadata alone would add its label and shift
    every code after it."""
    d = tmp_path / "cohort"
    _write_small_cohort(d, "csv", targets="bbaa0")

    def load():
        return load_dataset(path=str(d), spark=spark)

    first, _ = count_jobs(load)
    again, warm = count_jobs(load)
    assert warm == 0
    for ds in (first, again):
        assert roles.get_labels(ds.df, "encoded_labels") == ["a", "b"]
        rows = {r["sample"]: r["encoded_labels"] for r in ds.head(4)}
        assert rows == {"s1": 1, "s2": 1, "s3": 0, "s4": 0}


def test_materialize_reads_back_with_the_written_schema(spark, tmp_path, count_jobs):
    """FingerprintCache reads an entry back with the frame's own schema:
    a miss submits only the write's jobs, a hit submits none, and both
    carry the frame's types and role metadata (every field nullable, as
    any file scan)."""
    d = tmp_path / "cohort"
    _write_small_cohort(d, "csv")
    ds = load_dataset(path=str(d), labels=["a", "b"], spark=spark)
    cache_dir = str(tmp_path / "cache")

    _, write_jobs = count_jobs(lambda: ds.df.write.parquet(str(tmp_path / "plain")))
    miss, miss_jobs = count_jobs(lambda: ds.materialize(cache_dir))
    hit, hit_jobs = count_jobs(lambda: ds.materialize(cache_dir))
    assert miss_jobs == write_jobs
    assert hit_jobs == 0
    assert hit.fingerprint == miss.fingerprint
    want = [(f.name, f.dataType, f.metadata) for f in ds.df.schema]
    assert roles.columns_with_role(ds.df, roles.ROLE_TARGET) == ["target", "encoded_labels"]
    for out in (miss, hit):
        assert [(f.name, f.dataType, f.metadata) for f in out.df.schema] == want
        assert all(f.nullable for f in out.df.schema)
    assert sorted(map(tuple, hit.df.collect())) == sorted(map(tuple, ds.df.collect()))


def _load_small(d, count_jobs=None, **kw):
    def load():
        return load_dataset(path=str(d), **kw)
    return count_jobs(load) if count_jobs else load()


def test_reload_returns_the_memoized_plan(spark, tmp_path, count_jobs):
    """Each split's built frame is a fact of its relations: a repeat
    load of unchanged files returns the same frame in a fresh wrapper,
    submits no job and pins nothing; split= slicing still applies."""
    from biosets_spark import pins

    d = tmp_path / "cohort"
    _write_small_cohort(d, "csv")
    first, _ = _load_small(d, count_jobs, spark=spark)
    pinned = list(pins._PINS)
    again, warm = _load_small(d, count_jobs, spark=spark)
    assert warm == 0
    assert again.df is first.df and again is not first
    assert pins._PINS == pinned
    first.split = "changed"
    assert again.split == "train"
    head = _load_small(d, spark=spark, split="train[:2]")
    assert head.df is not first.df and head.num_rows == 2


@pytest.mark.parametrize("base, change", [
    ({}, {"labels": ["b", "a"]}),
    ({}, {"target_column": "sample"}),
    ({}, {"add_missing_columns": True}),
    ({}, {"infer_schema": False}),
    ({"labels": [0, 1]}, {"labels": [0.0, 1.0]}),
    ({"positive_labels": ["a", "b"]}, {"positive_labels": "ab"}),
], ids=["labels", "target_column", "add_missing_columns", "infer_schema",
        "label_types", "bare_string_labels"])
def test_a_plan_shaping_argument_is_a_miss(spark, tmp_path, base, change):
    """A load that differs in labels= (also only in the labels' types,
    or a bare string for a list), target_column=, add_missing_columns=
    or a reader option builds its own plan, and the plan of the first
    load is still served unchanged."""
    import warnings as W

    d = tmp_path / "cohort"
    _write_small_cohort(d, "csv", targets="0101" if "labels" in base else "abab",
                        symbols="ABC")
    with W.catch_warnings():
        W.simplefilter("ignore")
        first = _load_small(d, spark=spark, **base)
        other = _load_small(d, spark=spark, **change)
        again = _load_small(d, spark=spark, **base)
    assert other.df is not first.df and again.df is first.df
    df = other.df
    if "positive_labels" in change:
        # isin("ab") matches no label; the list matches both
        assert [r["encoded_labels"] for r in df.head(4)] == [0] * 4
        assert [r["encoded_labels"] for r in first.df.head(4)] == [1] * 4
    elif "labels" in base:
        assert [type(v) for v in roles.get_labels(df, "encoded_labels")] == [float, float]
        assert [type(v) for v in roles.get_labels(first.df, "encoded_labels")] == [int, int]
    elif "labels" in change:
        assert roles.get_labels(df, "encoded_labels") == ["b", "a"]
    elif "target_column" in change:
        assert roles.get_labels(df, "encoded_labels") == ["s1", "s2", "s3", "s4"]
    elif "add_missing_columns" in change:
        assert "g3" in df.columns and "g3" not in first.df.columns
    else:
        assert df.schema["g1"].dataType.simpleString() == "string"
        assert first.df.schema["g1"].dataType.simpleString() == "int"


def test_a_memoized_plan_replays_its_warnings(spark, tmp_path, monkeypatch, count_jobs):
    """The warnings a plan's build raised (an inferred feature-metadata
    key, rows matching no data column) are raised again by every load
    that is served the plan, and the row-count warning is judged on
    every load."""
    import warnings as W

    import biosets_spark.load as load_mod

    d = tmp_path / "cohort"
    _write_small_cohort(d, "csv")
    (d / "feature_metadata.csv").write_text("gene,symbol\nx1,A\nx2,B\nx3,C\n")
    monkeypatch.setattr(load_mod, "FEATURE_METADATA_WARN_ROWS", 2)
    frames, jobs = [], []
    for _ in range(2):
        with W.catch_warnings(record=True) as caught:
            W.simplefilter("always")
            ds, n = _load_small(d, count_jobs, spark=spark)
        frames.append(ds.df)
        jobs.append(n)
        text = " | ".join(str(w.message) for w in caught)
        assert "key column inferred as 'gene'" in text
        assert "no matching data column: ['x1', 'x2', 'x3']" in text
        assert "has 3 rows" in text
    assert frames[1] is frames[0] and jobs[1] == 0


def test_positional_and_mixed_format_loads_build_every_time(spark, tmp_path):
    """A J2 positional join pins its row index and a mixed-format load
    reads through a union the memo did not return: neither plan is
    memoized, and each load stays correct after every pin is
    released."""
    import warnings as W

    from biosets_spark import pins
    from biosets_spark.sources import relations

    pos = tmp_path / "positional"
    pos.mkdir()
    (pos / "data.csv").write_text("header1,header2\n1,10\n2,20\n")
    (pos / "sample_metadata.csv").write_text("batch,target\nb1,a\nb2,b\n")
    mixed = tmp_path / "mixed"
    _write_small_cohort(mixed, "parquet")
    (mixed / "more.csv").write_text("sample,g1,g2\ns5,9,9\n")
    loads = {
        "positional": lambda: load_dataset(path=str(pos), spark=spark),
        "mixed": lambda: load_dataset(
            data_files=[str(mixed / "counts.parquet"), str(mixed / "more.csv")],
            sample_metadata_files=[str(mixed / "sample_metadata.csv")],
            labels=["a", "b"], spark=spark),
    }
    relations.clear()
    for name, load in loads.items():
        with W.catch_warnings():
            W.simplefilter("ignore")
            first = load()
            want = sorted(map(tuple, first.df.collect()))
            pins.release()
            again = load()
        assert again.df is not first.df, name
        assert sorted(map(tuple, again.df.collect())) == want, name
        pins.release()
    assert not [k for k in relations._RELATIONS
                if k[1][0] == "fact" and k[1][1][0] == "split_plan"]


def test_two_splits_share_the_resolved_feature_key_on_a_hit(spark, tmp_path, count_jobs):
    """The J5 key the first split resolves by value containment keys
    the second split's metadata too; a repeat load gives what the cold
    load gave, although the second split alone would resolve another
    key."""
    d = tmp_path / "cohort"
    d.mkdir()
    (d / "train-counts.csv").write_text("sample,g1,g2\ns1,1,5\ns2,2,6\n")
    (d / "test-counts.csv").write_text("sample,g1\ns3,3\n")
    (d / "feature_metadata.csv").write_text("alias,gene,symbol\ng1,g1,A\nzz,g2,B\n")

    def load():
        out = load_dataset(data_files=[str(d / "train-counts.csv"), str(d / "test-counts.csv")],
                           feature_metadata_files=[str(d / "feature_metadata.csv")], spark=spark)
        return {s: roles.roles_snapshot(out[s].df) for s in ("train", "test")}, out

    (cold, first), _ = count_jobs(load)
    (warm, again), jobs = count_jobs(load)
    assert jobs == 0 and again["test"].df is first["test"].df
    assert warm == cold
    assert cold["test"]["g1"][roles.META_KEY] == {"alias": "g1", "symbol": "A"}
