"""Storage-layer surface: scheme normalization and the parquet read/write
round trip (SURVEY §2.1)."""

from __future__ import annotations


def test_s3a_path_normalization():
    from crossai_ts_spark.sources.io import s3a_path

    assert s3a_path("s3://bucket/prefix/t.parquet") == "s3a://bucket/prefix/t.parquet"
    assert s3a_path("s3n://bucket/x") == "s3a://bucket/x"
    assert s3a_path("s3a://bucket/x") == "s3a://bucket/x"  # already canonical
    assert s3a_path("/local/dir") == "/local/dir"
    assert s3a_path("file:///x") == "file:///x"


def test_s3a_rewrite_gated_on_bound_handler(spark):
    """ADVICE r6: when the hadoop conf binds a dedicated filesystem to
    s3:// (EMRFS on EMR), the scheme must be PRESERVED — rewriting to
    s3a would swap implementation/committer/credentials behind the
    caller's back."""
    from crossai_ts_spark.sources.io import s3a_path

    conf = spark.sparkContext._jsc.hadoopConfiguration()
    assert not conf.get("fs.s3.impl", "")  # sandbox: no handler bound
    assert s3a_path("s3://b/x", spark) == "s3a://b/x"
    conf.set("fs.s3.impl", "com.amazon.ws.emr.hadoop.fs.EmrFileSystem")
    try:
        assert s3a_path("s3://b/x", spark) == "s3://b/x"  # EMRFS preserved
        assert s3a_path("s3n://b/x", spark) == "s3a://b/x"  # s3n unbound
    finally:
        conf.unset("fs.s3.impl")
    assert s3a_path("s3://b/x", spark) == "s3a://b/x"


def test_read_write_table_parquet_roundtrip(spark, tmp_path):
    from crossai_ts_spark.sources.io import read_table, write_table

    df = spark.createDataFrame(
        [("a", 1, 10), ("b", 1, 20), ("c", 2, 30)], "doc_id string, tier int, v int"
    )
    loc = str(tmp_path / "t")
    write_table(df, loc)
    back = read_table(spark, loc)
    assert back.count() == 3
    # hive-layout partition pruning works on the partition column
    assert back.filter("tier = 2").count() == 1
