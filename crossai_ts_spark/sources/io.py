"""Storage layer: Iceberg when its runtime jar is on the classpath,
partitioned parquet otherwise — one interface either way (SURVEY §7.1).

The sandbox image has no Iceberg jar, so the parquet path is first-class:
identical schema, hive-style ``tier=K/bucket=B`` layout (partition pruning
on both columns), and atomic per-partition commits via temp-dir + rename
used by plans/checkpoint.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def s3a_path(location: str, spark: SparkSession | None = None) -> str:
    """Normalize an S3 URI scheme to the client Spark/Hadoop will
    actually use: ``s3://`` and the legacy ``s3n://`` map to ``s3a://``
    (reference parity: caits loaders address buckets with plain s3 URLs;
    on vanilla Spark the S3A connector is the supported client).

    The rewrite is GATED (ADVICE r6): if the live hadoop conf binds a
    dedicated filesystem to the caller's scheme (``fs.s3.impl`` /
    ``fs.s3n.impl`` — on EMR that is EMRFS, the supported,
    consistency-tuned client there), the scheme is preserved — forcing
    s3a would swap the filesystem implementation, committer, and
    credential chain behind the caller's back."""
    for scheme, impl_key in (("s3://", "fs.s3.impl"), ("s3n://", "fs.s3n.impl")):
        if location.startswith(scheme):
            if spark is not None:
                try:
                    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
                    if conf.get(impl_key, ""):
                        return location  # dedicated handler bound (e.g. EMRFS)
                except Exception:
                    # Spark Connect sessions expose no sparkContext/_jsc
                    # (ADVICE r7): fall back to the unconditional rewrite
                    # rather than failing the read/write
                    pass
            return "s3a://" + location[len(scheme):]
    return location


def read_table(spark: SparkSession, location: str) -> DataFrame:
    """Read a table: ``iceberg:catalog.db.tbl``, an ``s3://``/``s3a://``
    object-store prefix (needs the hadoop-aws jar on the classpath; S3A
    client settings come as ``--conf spark.hadoop.fs.s3a.*``), or a
    parquet path/dir."""
    if location.startswith("iceberg:"):
        return spark.read.format("iceberg").load(location[len("iceberg:") :])
    return spark.read.parquet(s3a_path(location, spark))


def write_table(df: DataFrame, location: str) -> None:
    """Replace the table at ``location`` with ``df``; a parquet table is
    laid out ``tier=K`` (hive-style, prunable on the tier)."""
    if location.startswith("iceberg:"):
        df.writeTo(location[len("iceberg:") :]).createOrReplace()
        return
    df.write.mode("overwrite").partitionBy("tier").parquet(s3a_path(location, df.sparkSession))


def read_sequences(spark: SparkSession, location: str) -> DataFrame:
    """Input_hint table (doc_id, tokens, n_tok, source) from storage."""
    df = read_table(spark, location)
    return df.select("doc_id", "tokens", "n_tok", "source")
