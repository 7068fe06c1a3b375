"""Checkpoint/resume protocol + salted-aggregation bitwise equality."""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crossai_ts_spark.operators.rollup import cascade
from crossai_ts_spark.operators.salted import salted_tier_source_rollup
from crossai_ts_spark.plans.checkpoint import (
    commit_bucket,
    completed_buckets,
    pending_buckets,
    with_bucket,
)


def _params(tiers: int) -> dict:
    return {"w": 64, "fanout": 8, "n_tiers": tiers}


def test_salted_tier_rollup_invariance(spark, tiny_df, monkeypatch):
    from crossai_ts_spark.operators import salted

    tiers = cascade(tiny_df, w=64, fanout=8, tiers=2)
    a = salted_tier_source_rollup(tiers).toPandas()
    monkeypatch.setattr(salted, "SALTS", 16)
    b = salted_tier_source_rollup(tiers.repartition(11)).toPandas()
    key = ["source", "tier", "window_start"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    for c in ["t_min", "t_max", "t_sum", "t_cnt", "n_docs"]:
        assert a[c].tolist() == b[c].tolist(), c
    assert (a.t_mean.to_numpy().view(np.int64) == b.t_mean.to_numpy().view(np.int64)).all()


def test_checkpoint_commit_and_resume(spark, tiny_df, tmp_path):
    out = str(tmp_path / "rollup_out")
    n_buckets = 4
    seqs = with_bucket(tiny_df, n_buckets)

    # commit buckets 0 and 2 only
    for b in (0, 2):
        sub = seqs.filter(F.col("bucket") == b)
        m = commit_bucket(sub, out, b, "test-input", params=_params(2))
        assert m["bucket"] == b
        assert m["tiers"]  # per-tier lineage metrics present
        for t in m["tiers"].values():
            assert t["rows"] > 0 and t["tokens"] > 0

    assert completed_buckets(out) == {0, 2}
    assert pending_buckets(out, n_buckets, {}) == [1, 3]

    # manifests are valid JSON with lineage fields
    with open(os.path.join(out, "_manifests", "0.json")) as f:
        m0 = json.load(f)
    assert m0["input_snapshot"] == "test-input"
    assert m0["code_version"]

    # re-commit of an already-done bucket is idempotent
    sub = seqs.filter(F.col("bucket") == 0)
    commit_bucket(sub, out, 0, "test-input", params=_params(2))
    assert completed_buckets(out) == {0, 2}

    # committed data is readable and tier-partitioned
    back = spark.read.parquet(f"{out}/data")
    assert back.filter(F.col("tier") == 1).count() > 0


def test_commit_bucket_uri_guard(spark, tiny_df, tmp_path):
    """Remote schemes rejected; file:// and Hadoop-style file:/ both land in
    the same local directory instead of a relative './file:...' dir."""
    for bad in ("hdfs://nn/x", "s3a://bucket/x", "hdfs:/x"):
        with pytest.raises(ValueError, match="driver-local"):
            commit_bucket(tiny_df, bad, 0, "t", params=_params(1))
    out = str(tmp_path / "uri_out")
    commit_bucket(tiny_df, f"file://{out}", 0, "t", params=_params(1))
    commit_bucket(tiny_df, f"file:{out}", 1, "t", params=_params(1))  # single-slash Hadoop form
    assert completed_buckets(out) == {0, 1}
    assert not os.path.exists("file:")  # no relative junk dir


def test_rollup_job_end_to_end(spark, tmp_path):
    """Drive jobs/rollup_job.py's main() incl. resume skipping."""
    import sys

    sys.path.insert(0, "/root/repo")
    from jobs.rollup_job import main

    out = str(tmp_path / "job_out")
    rc = main(
        [
            "--input", "synthetic:40", "--out", out, "--buckets", "3",
            "--w", "64", "--fanout", "8", "--tiers", "2",
            "--compress", "--master", "local[4]",
        ]
    )
    assert rc == 0
    assert completed_buckets(out) == {0, 1, 2}
    segs = spark.read.parquet(f"{out}/compressed")
    assert segs.count() > 0
    # resume: nothing pending -> runs zero buckets, still exits 0
    rc = main(["--input", "synthetic:40", "--out", out, "--buckets", "3", "--resume",
               "--w", "64", "--fanout", "8", "--tiers", "2", "--master", "local[4]"])
    assert rc == 0


def test_recommit_killed_before_rename_leaves_bucket_pending(spark, tiny_df, tmp_path, monkeypatch):
    """A re-commit dropped between removing the old data and renaming the new
    data in must not leave the old manifest claiming the bucket."""
    out = str(tmp_path / "kill_out")
    commit_bucket(tiny_df, out, 0, "t", params=_params(1))
    assert pending_buckets(out, 1, {}) == []

    def killed(src, dst):
        raise OSError("killed before rename")

    monkeypatch.setattr(os, "replace", killed)
    with pytest.raises(OSError, match="killed"):
        commit_bucket(tiny_df, out, 0, "t", params=_params(1))
    assert pending_buckets(out, 1, {}) == [0]
    assert not os.path.exists(os.path.join(out, "_manifests", "0.json"))


def test_resume_with_other_bucket_count_raises(spark, tmp_path):
    from jobs.rollup_job import main

    out = str(tmp_path / "job_out")

    def job(buckets, tiers=2, resume=False):
        return main(["--input", "synthetic:12", "--out", out, "--buckets", str(buckets),
                     "--w", "64", "--fanout", "8", "--tiers", str(tiers), "--master", "local[4]"]
                    + (["--resume"] if resume else []))

    assert job(4) == 0
    with open(os.path.join(out, "_manifests", "0.json")) as f:
        m0 = json.load(f)
    assert (m0["n_buckets"], m0["w"], m0["fanout"], m0["n_tiers"]) == (4, 64, 8, 2)
    with pytest.raises(ValueError, match="n_buckets"):
        job(3, resume=True)
    with pytest.raises(ValueError, match="n_tiers"):
        job(4, tiers=3, resume=True)
    assert job(4, resume=True) == 0  # same settings: nothing pending


def test_resume_refuses_an_out_of_another_layout(spark, tmp_path):
    """A manifest without this layout (one written while the segments were
    one global table after all buckets) is refused by name, not resumed
    into a mix of the two layouts."""
    from jobs.rollup_job import main

    out = str(tmp_path / "job_out")
    args = ["--input", "synthetic:12", "--out", out, "--buckets", "2", "--w", "64", "--fanout", "8",
            "--tiers", "2", "--master", "local[4]"]
    assert main(args) == 0
    path = os.path.join(out, "_manifests", "1.json")
    with open(path) as f:
        m = json.load(f)
    del m["layout"]
    with open(path, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="layout=None"):
        main([*args, "--resume"])


def _reread_tiers(spark, out, bucket):
    """Test-only second read: the manifest's per-tier figures by groupBy over
    both tables, and the sizes of the files on disk."""
    rows = (
        spark.read.parquet(f"{out}/data/bucket={bucket}")
        .groupBy("tier")
        .agg(
            F.count("*").alias("rows"),
            F.sum("t_cnt").alias("tokens"),
            F.countDistinct("doc_id").alias("docs"),
            F.min("window_start").alias("min_window_start"),
            F.max("window_start").alias("max_window_start"),
        )
        .join(
            spark.read.parquet(f"{out}/compressed/bucket={bucket}")
            .groupBy("tier")
            .agg(
                F.count("*").alias("segments"),
                F.sum(F.length("ts_blob") + F.length("val_blob")).alias("segment_bytes"),
            ),
            "tier",
        )
        .collect()
    )
    figs = {str(r.tier): {k: int(v) for k, v in r.asDict().items() if k != "tier"} for r in rows}
    for k, t in figs.items():
        t["bytes_written"] = sum(
            os.path.getsize(os.path.join(d, f))
            for table in ("data", "compressed")
            for d in [os.path.join(out, table, f"bucket={bucket}", f"tier={k}")]
            for f in os.listdir(d)
        )
    return figs


@pytest.mark.parametrize("tiers", [2, 3])
def test_manifest_matches_reread(spark, tiny_df, tmp_path, tiers):
    out = str(tmp_path / "reread_out")
    n_buckets = 3
    seqs = with_bucket(tiny_df, n_buckets)
    for b in range(n_buckets):
        sub = seqs.filter(F.col("bucket") == b)
        m = commit_bucket(sub, out, b, "t", params=_params(tiers))
        assert sorted(m["tiers"]) == [str(k) for k in range(1, tiers + 1)]
        assert m["tiers"] == _reread_tiers(spark, out, b)
        assert m["input_rows"] == sub.count()
        with open(os.path.join(out, "_manifests", f"{b}.json")) as f:
            assert json.load(f)["tiers"] == m["tiers"]


def test_manifest_docs_counts_series_not_ids(spark, tiny_docs, tmp_path):
    """Two series under one doc_id: docs counts series (2), a distinct-id
    re-read would say 1."""
    from crossai_ts_spark.schema import SEQUENCES_SCHEMA

    doc = tiny_docs[tiny_docs["n_tok"] > 0].iloc[[0]]
    twice = spark.createDataFrame(pd.concat([doc, doc], ignore_index=True), schema=SEQUENCES_SCHEMA)
    out = str(tmp_path / "dup_out")
    m = commit_bucket(twice, out, 0, "t", params=_params(2))
    assert {k: t["docs"] for k, t in m["tiers"].items()} == {"1": 2, "2": 2}
    assert {k: t["docs"] for k, t in _reread_tiers(spark, out, 0).items()} == {"1": 1, "2": 1}


def test_repeated_doc_id_gives_one_segment_per_series(spark, tiny_docs, tmp_path):
    """Each input row's windows are encoded where the cascade made them, so
    two series under one doc_id are two segments per tier, each the one
    series' points (a sort of all tier rows by doc_id would merge them)."""
    from crossai_ts_spark.functions.codecs import decompress_tiers
    from crossai_ts_spark.schema import SEQUENCES_SCHEMA

    doc = tiny_docs[tiny_docs["n_tok"] > 64].iloc[[0]]
    twice = spark.createDataFrame(pd.concat([doc, doc], ignore_index=True), schema=SEQUENCES_SCHEMA)
    out = str(tmp_path / "dup_out")
    m = commit_bucket(twice, out, 0, "t", params=_params(2))
    segs = spark.read.parquet(f"{out}/compressed")
    assert {k: t["segments"] for k, t in m["tiers"].items()} == {"1": 2, "2": 2}
    for k, t in m["tiers"].items():
        pts = [r.n_points for r in segs.filter(F.col("tier") == int(k)).collect()]
        assert pts == [t["rows"] // 2] * 2
    back = decompress_tiers(segs).toPandas().sort_values(["tier", "window_start"])
    one = cascade(twice.limit(1), w=64, fanout=8, tiers=2).toPandas().sort_values(["tier", "window_start"])
    assert back["window_start"].tolist() == np.repeat(one["window_start"].to_numpy(), 2).tolist()
    assert back["value"].tolist() == np.repeat(one["t_mean"].to_numpy(), 2).tolist()


def test_empty_bucket_commits_with_no_tiers(spark, tiny_df, tmp_path):
    """A bucket no doc hashes to (more buckets than docs) still commits, and
    so does one whose rows have no tokens; ``input_rows`` counts those."""
    out = str(tmp_path / "empty_out")
    m = commit_bucket(tiny_df.filter("false"), out, 0, "t", params=_params(2))
    assert m["tiers"] == {} and m["input_rows"] == 0
    hollow = spark.createDataFrame([("d0", [], 0, "s"), ("d1", None, 0, "s")],
                                   "doc_id string, tokens array<int>, n_tok int, source string")
    m = commit_bucket(hollow, out, 1, "t", params=_params(2))
    assert m["tiers"] == {} and m["input_rows"] == 2
    assert completed_buckets(out) == {0, 1}


def test_commit_is_one_spark_job(spark, tiny_df, tmp_path):
    sc = spark.sparkContext
    group = f"commit-{tmp_path.name}"
    sc.setJobGroup(group, "commit_bucket")
    try:
        commit_bucket(tiny_df, str(tmp_path / "jobs_out"), 0, "t", params=_params(3))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_failed_write_raises_and_leaves_bucket_pending(spark, tiny_df, tmp_path):
    """A bucket whose kernel fails (a null token element in one task, after
    the other tasks wrote their files): commit_bucket raises (does not hang)
    and leaves no manifest and no bucket directory in data/ or compressed/."""
    out = str(tmp_path / "fail_out")
    null_elem = spark.createDataFrame([("doc-null", [1, None, 3], 3, "s")],
                                      "doc_id string, tokens array<int>, n_tok int, source string")
    bad = tiny_df.unionByName(null_elem).repartition(3)
    err = []

    def run():
        try:
            commit_bucket(bad, out, 0, "t", params=_params(1))
        except Exception as e:  # noqa: BLE001 - inspected below
            err.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(300)
    assert not t.is_alive(), "commit_bucket hung after a failed write"
    assert err and "'doc-null': tokens array holds a null element" in str(err[0])
    assert pending_buckets(out, 1, {}) == [0]
    assert not os.path.exists(os.path.join(out, "_manifests", "0.json"))
    assert not os.path.exists(os.path.join(out, "data", "bucket=0"))
    assert not os.path.exists(os.path.join(out, "compressed", "bucket=0"))


def test_rerun_with_fewer_buckets_drops_the_rest(spark, tmp_path):
    """A run without --resume into the output of a run with more buckets:
    the extra buckets go from data/ and compressed/, and so does a global
    compressed/ table left by the layout before per-bucket segments."""
    from jobs.rollup_job import main

    out = str(tmp_path / "job_out")

    def job(buckets):
        return main(["--input", "synthetic:40", "--out", out, "--buckets", str(buckets), "--w", "64",
                     "--fanout", "8", "--tiers", "2", "--compress", "--master", "local[4]"])

    assert job(4) == 0
    old = os.path.join(out, "compressed", "tier=1")
    os.makedirs(old)
    shutil.copy(glob.glob(os.path.join(out, "compressed", "bucket=0", "tier=1", "*.parquet"))[0], old)
    open(os.path.join(out, "compressed", "_SUCCESS"), "w").close()
    assert job(3) == 0
    assert completed_buckets(out) == {0, 1, 2}
    assert sorted(os.listdir(os.path.join(out, "compressed"))) == [f"bucket={b}" for b in range(3)]
    assert not os.path.exists(os.path.join(out, "data", "bucket=3"))
    rows = 0
    for b in range(3):
        with open(os.path.join(out, "_manifests", f"{b}.json")) as f:
            rows += json.load(f)["tiers"]["1"]["rows"]
    pts = spark.read.parquet(f"{out}/compressed").filter(F.col("tier") == 1).agg(F.sum("n_points")).first()[0]
    assert pts == rows


def test_resume_after_a_kill_between_bucket_commits_reencodes_only_pending(spark, tmp_path, monkeypatch):
    """A kill after one of three bucket commits, inside the second (its
    tables renamed in, its manifest not yet written): the resume commits,
    and so encodes, only the two pending buckets, and its tier rows and
    segments are byte for byte those of an uninterrupted run."""
    from crossai_ts_spark.plans import checkpoint
    from jobs.rollup_job import main

    def job(out, *extra):
        return main(["--input", "synthetic:40", "--out", out, "--buckets", "3", "--w", "64",
                     "--fanout", "8", "--tiers", "2", "--master", "local[4]", *extra])

    def table(out, name, cols):
        return sorted(tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
                      for r in spark.read.parquet(f"{out}/{name}").select(*cols).collect())

    def tables(out):
        return (table(out, "data", ["doc_id", "tier", "window_start", "t_sum", "t_cnt", "t_mean"]),
                table(out, "compressed", ["doc_id", "tier", "n_points", "ts_blob", "val_blob"]))

    whole, killed = str(tmp_path / "whole"), str(tmp_path / "killed")
    assert job(whole) == 0
    real_manifest, real_commit = checkpoint.write_manifest, checkpoint.commit_bucket

    def dies_on_second(out_dir, bucket, payload):
        if len(checkpoint.completed_buckets(out_dir)) == 1:
            raise OSError("killed before the manifest")
        real_manifest(out_dir, bucket, payload)

    monkeypatch.setattr(checkpoint, "write_manifest", dies_on_second)
    with pytest.raises(OSError, match="killed"):
        job(killed)
    monkeypatch.setattr(checkpoint, "write_manifest", real_manifest)
    assert completed_buckets(killed) == {0}
    assert os.path.isdir(os.path.join(killed, "compressed", "bucket=1"))  # renamed in, not vouched for

    committed = []

    def counting(seqs_df, out_dir, bucket, **kw):
        committed.append(real_commit(seqs_df, out_dir, bucket, **kw))
        return committed[-1]

    monkeypatch.setattr(checkpoint, "commit_bucket", counting)
    assert job(killed, "--resume") == 0
    assert [m["bucket"] for m in committed] == [1, 2]
    segs = {b: json.load(open(os.path.join(whole, "_manifests", f"{b}.json")))["tiers"] for b in range(3)}
    assert sum(t["segments"] for m in committed for t in m["tiers"].values()) == sum(
        t["segments"] for b in (1, 2) for t in segs[b].values())
    assert tables(killed) == tables(whole)


def test_commit_segments_match_the_grouped_oracle(spark, tiny_df, tmp_path):
    """The segments a bucket commit encodes in the cascade's batches are
    bitwise the per-(doc, tier) oracle's over the same tier rows; the input
    holds every pinned boundary doc (1, 63, 64, 65, 4096 and 65536 tokens)."""
    from crossai_ts_spark.oracle.codecs import compress_tiers_grouped

    assert tiny_df.filter(F.col("doc_id").contains("bnd")).count() == 6
    out = str(tmp_path / "oracle_out")
    commit_bucket(tiny_df.repartition(3), out, 0, "t", params=_params(3))
    cols = ["doc_id", "source", "tier", "n_points", "codec", "ts_blob", "val_blob"]
    got = spark.read.parquet(f"{out}/compressed").select(*cols)
    want = compress_tiers_grouped(cascade(tiny_df, w=64, fanout=8, tiers=3)).select(*cols)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_commit_files_are_one_set_per_partition(spark, tiny_df, tmp_path):
    """Retry safety: a partition run twice leaves one file per table and
    tier, byte for byte the first run's, and a leftover hidden temp file of
    a dead attempt is not read."""
    from crossai_ts_spark.plans.checkpoint import FIGURES_SCHEMA, _bucket_kernel
    from crossai_ts_spark.workers import worker_kernel

    tmp = str(tmp_path / "tmp")
    one = tiny_df.select("doc_id", "source", "tokens").coalesce(1)
    kernel = worker_kernel(_bucket_kernel(tmp, [64, 512], 8))

    def files():
        return {os.path.relpath(os.path.join(d, f), tmp): open(os.path.join(d, f), "rb").read()
                for d, _, fs in os.walk(tmp) for f in fs}

    first = one.mapInPandas(kernel, FIGURES_SCHEMA).collect()
    before = files()
    assert sorted(before) == [f"{t}/tier={k}/part-00000.parquet" for t in ("compressed", "data") for k in (1, 2)]
    assert one.mapInPandas(kernel, FIGURES_SCHEMA).collect() == first
    assert files() == before

    n = spark.read.parquet(f"{tmp}/data").count()
    shutil.copy(os.path.join(tmp, "data", "tier=1", "part-00000.parquet"),
                os.path.join(tmp, "data", "tier=1", ".part-00000-1.tmp"))
    assert spark.read.parquet(f"{tmp}/data").count() == n


def test_rollup_job_rejects_counts_below_one(spark, tmp_path):
    """--buckets 0 (or --w/--fanout/--tiers 0) is a usage error, exit 2,
    raised before anything in --out is touched: it used to drop every
    committed bucket as stale and exit 0."""
    from jobs.rollup_job import main

    out = str(tmp_path / "job_out")
    base = ["--input", "synthetic:20", "--out", out, "--w", "64", "--fanout", "8",
            "--tiers", "2", "--compress", "--master", "local[4]"]
    assert main([*base, "--buckets", "2"]) == 0
    for flag in ("--buckets", "--w", "--fanout", "--tiers"):
        with pytest.raises(SystemExit) as e:
            main([*base, "--buckets", "2", flag, "0"])
        assert e.value.code == 2, flag
    assert completed_buckets(out) == {0, 1}
    for b in (0, 1):
        assert os.path.exists(os.path.join(out, "_manifests", f"{b}.json"))
        assert os.path.isdir(os.path.join(out, "data", f"bucket={b}"))
