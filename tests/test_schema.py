"""Type lattice, schema unification/pinning, role metadata survival."""

from pyspark.sql import types as T

from biosets_spark.schema import roles
from biosets_spark.schema.lattice import align_to_schema, unify_schemas, union_promote, upcast


def test_upcast_numeric_chain():
    assert upcast(T.ByteType(), T.LongType()) == T.LongType()
    # r7 review: float32's 24-bit mantissa cannot hold int32/int64
    # exactly — promote to double like numpy/Arrow (ids/counts above
    # 16,777,216 would silently lose digits in float32)
    assert upcast(T.IntegerType(), T.FloatType()) == T.DoubleType()
    assert upcast(T.LongType(), T.FloatType()) == T.DoubleType()
    assert upcast(T.ShortType(), T.FloatType()) == T.FloatType()  # fits exactly
    assert upcast(T.LongType(), T.DoubleType()) == T.DoubleType()
    assert upcast(T.BooleanType(), T.ByteType()) == T.ByteType()


def test_upcast_null_and_string_top():
    # NullType is the lattice identity; the never-informed column
    # repairs to string only at schema materialization
    # (reference biodata.py:1306-1307)
    assert upcast(T.NullType(), T.NullType()) == T.NullType()
    assert upcast(T.NullType(), T.IntegerType()) == T.IntegerType()
    assert upcast(T.TimestampType(), T.IntegerType()) == T.StringType()
    assert upcast(T.StringType(), T.DoubleType()) == T.StringType()
    null_schema = T.StructType([T.StructField("x", T.NullType())])
    assert unify_schemas([null_schema, null_schema])["x"].dataType == T.StringType()


def test_upcast_decimal_and_temporal():
    assert upcast(T.DecimalType(10, 2), T.LongType()) == T.DecimalType(22, 2)
    assert upcast(T.DateType(), T.TimestampType()) == T.TimestampType()
    assert upcast(T.DecimalType(38, 10), T.DecimalType(38, 0)) == T.DoubleType()


def test_upcast_nested():
    a = T.ArrayType(T.IntegerType())
    b = T.ArrayType(T.DoubleType())
    assert upcast(a, b) == T.ArrayType(T.DoubleType(), True)
    s1 = T.StructType([T.StructField("x", T.IntegerType())])
    s2 = T.StructType([T.StructField("x", T.LongType()), T.StructField("y", T.StringType())])
    merged = upcast(s1, s2)
    assert merged["x"].dataType == T.LongType()
    assert "y" in merged.fieldNames()


def test_unify_schemas_column_union_order():
    s1 = T.StructType([T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())])
    s2 = T.StructType([T.StructField("b", T.StringType()), T.StructField("c", T.DoubleType())])
    u = unify_schemas([s1, s2])
    assert u.fieldNames() == ["a", "b", "c"]


def test_union_promote_missing_fill_and_cast(spark):
    df1 = spark.createDataFrame([(1, "x")], "a int, b string")
    df2 = spark.createDataFrame([(2.5, True)], "a double, c boolean")
    out = union_promote([df1, df2])
    assert dict((f.name, f.dataType) for f in out.schema.fields)["a"] == T.DoubleType()
    rows = {tuple(r) for r in out.collect()}
    assert (1.0, "x", None) in rows and (2.5, None, True) in rows


def test_align_zero_as_missing(spark):
    df = spark.createDataFrame([(1,)], "a int")
    target = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.IntegerType())])
    out = align_to_schema(df, target, zero_as_missing=True)
    assert out.collect()[0].b == 0


def test_roles_survive_parquet_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("s1", 1, "a")], "sample string, f1 int, target string")
    df = roles.with_role(df, "sample", roles.ROLE_SAMPLE)
    df = roles.with_role(df, "f1", roles.ROLE_FEATURE, feature_type="abundance", meta={"unit": "count"})
    p = str(tmp_path / "roundtrip.parquet")
    df.write.parquet(p)
    back = spark.read.parquet(p)
    assert roles.get_role(back, "sample") == roles.ROLE_SAMPLE
    assert roles.get_feature_meta(back, "f1") == {"unit": "count"}
    assert roles.columns_with_role(back, roles.ROLE_FEATURE) == ["f1"]


def test_roles_snapshot_reapply(spark):
    df = spark.createDataFrame([("s1", 1)], "sample string, f1 int")
    df = roles.with_role(df, "sample", roles.ROLE_SAMPLE)
    snap = roles.roles_snapshot(df)
    stripped = df.select("sample", "f1")  # metadata survives select; simulate loss via rebuild
    rebuilt = roles.apply_roles(stripped, snap)
    assert roles.get_role(rebuilt, "sample") == roles.ROLE_SAMPLE


def test_with_roles_merges_in_one_projection(spark):
    """with_roles merges each column's updates into its existing
    metadata (a None value removes the key), leaves untagged columns
    alone, handles dotted names, and rejects unknown columns."""
    import pytest

    df = spark.createDataFrame([("s1", 1, 2)], "sample string, `OTU.1` int, other int")
    df = roles.with_role(df, "OTU.1", roles.ROLE_FEATURE, feature_type="abundance",
                         meta={"unit": "count"})
    out = roles.with_roles(df, {
        "sample": roles.role_updates(roles.ROLE_SAMPLE),
        "OTU.1": {roles.FEATURE_TYPE_KEY: "read_count", roles.META_KEY: None},
    })
    assert out.schema["sample"].metadata == {roles.ROLE_KEY: roles.ROLE_SAMPLE}
    assert out.schema["OTU.1"].metadata == {
        roles.ROLE_KEY: roles.ROLE_FEATURE, roles.FEATURE_TYPE_KEY: "read_count"}
    assert out.schema["other"].metadata == {}
    assert out.collect()[0]["OTU.1"] == 1
    assert roles.with_roles(df, {}) is df
    with pytest.raises(KeyError, match="missing"):
        roles.with_roles(df, {"missing": roles.role_updates(roles.ROLE_BATCH)})
