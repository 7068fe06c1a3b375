"""Checkpoint/resume protocol + salted-aggregation bitwise equality."""

from __future__ import annotations

import json
import os
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
        sub = seqs.filter(F.col("bucket") == b).drop("bucket")
        m = commit_bucket(cascade(sub, w=64, fanout=8, tiers=2), out, b, "test-input",
                          params={"n_tiers": 2})
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
    sub = seqs.filter(F.col("bucket") == 0).drop("bucket")
    commit_bucket(cascade(sub, w=64, fanout=8, tiers=2), out, 0, "test-input", params={"n_tiers": 2})
    assert completed_buckets(out) == {0, 2}

    # committed data is readable and tier-partitioned
    back = spark.read.parquet(f"{out}/data")
    assert back.filter(F.col("tier") == 1).count() > 0


def test_commit_bucket_uri_guard(spark, tiny_df, tmp_path):
    """Remote schemes rejected; file:// and Hadoop-style file:/ both land in
    the same local directory instead of a relative './file:...' dir."""
    tiers = cascade(tiny_df, w=64, fanout=8, tiers=1)
    for bad in ("hdfs://nn/x", "s3a://bucket/x", "hdfs:/x"):
        with pytest.raises(ValueError, match="driver-local"):
            commit_bucket(tiers, bad, 0, "t", params={"n_tiers": 1})
    out = str(tmp_path / "uri_out")
    commit_bucket(tiers, f"file://{out}", 0, "t", params={"n_tiers": 1})
    commit_bucket(tiers, f"file:{out}", 1, "t", params={"n_tiers": 1})  # single-slash Hadoop form
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
    tiers = cascade(tiny_df, w=64, fanout=8, tiers=1)
    commit_bucket(tiers, out, 0, "t", params={"n_tiers": 1})
    assert pending_buckets(out, 1, {}) == []

    def killed(src, dst):
        raise OSError("killed before rename")

    monkeypatch.setattr(os, "replace", killed)
    with pytest.raises(OSError, match="killed"):
        commit_bucket(tiers, out, 0, "t", params={"n_tiers": 1})
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


def _reread_tiers(spark, path):
    """Test-only second read: the manifest's per-tier figures by groupBy."""
    rows = (
        spark.read.parquet(path)
        .groupBy("tier")
        .agg(
            F.count("*").alias("rows"),
            F.sum("t_cnt").alias("tokens"),
            F.countDistinct("doc_id").alias("docs"),
            F.min("window_start").alias("min_window_start"),
            F.max("window_start").alias("max_window_start"),
        )
        .collect()
    )
    return {str(r.tier): {k: int(v) for k, v in r.asDict().items() if k != "tier"} for r in rows}


@pytest.mark.parametrize("tiers", [2, 3])
def test_manifest_matches_reread(spark, tiny_df, tmp_path, tiers):
    out = str(tmp_path / "reread_out")
    n_buckets = 3
    seqs = with_bucket(tiny_df, n_buckets)
    for b in range(n_buckets):
        sub = seqs.filter(F.col("bucket") == b).drop("bucket")
        m = commit_bucket(cascade(sub, w=64, fanout=8, tiers=tiers), out, b, "t",
                          params={"n_tiers": tiers})
        assert sorted(m["tiers"]) == [str(k) for k in range(1, tiers + 1)]
        assert m["tiers"] == _reread_tiers(spark, f"{out}/data/bucket={b}")
        with open(os.path.join(out, "_manifests", f"{b}.json")) as f:
            assert json.load(f)["tiers"] == m["tiers"]


def test_manifest_docs_counts_series_not_ids(spark, tiny_docs, tmp_path):
    """Two series under one doc_id: docs counts series (2), a distinct-id
    re-read would say 1."""
    from crossai_ts_spark.schema import SEQUENCES_SCHEMA

    doc = tiny_docs[tiny_docs["n_tok"] > 0].iloc[[0]]
    twice = spark.createDataFrame(pd.concat([doc, doc], ignore_index=True), schema=SEQUENCES_SCHEMA)
    out = str(tmp_path / "dup_out")
    m = commit_bucket(cascade(twice, w=64, fanout=8, tiers=2), out, 0, "t", params={"n_tiers": 2})
    assert {k: t["docs"] for k, t in m["tiers"].items()} == {"1": 2, "2": 2}
    assert {k: t["docs"] for k, t in _reread_tiers(spark, f"{out}/data").items()} == {"1": 1, "2": 1}


def test_empty_bucket_commits_with_no_tiers(spark, tiny_df, tmp_path):
    """A bucket no doc hashes to (more buckets than docs) still commits."""
    out = str(tmp_path / "empty_out")
    m = commit_bucket(cascade(tiny_df.filter("false"), w=64, fanout=8, tiers=2), out, 0, "t",
                      params={"n_tiers": 2})
    assert m["tiers"] == {}
    assert completed_buckets(out) == {0}


def test_commit_is_one_spark_job(spark, tiny_df, tmp_path):
    sc = spark.sparkContext
    tiers = cascade(tiny_df, w=64, fanout=8, tiers=3)
    group = f"commit-{tmp_path.name}"
    sc.setJobGroup(group, "commit_bucket")
    try:
        commit_bucket(tiers, str(tmp_path / "jobs_out"), 0, "t", params={"n_tiers": 3})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_failed_write_raises_and_leaves_bucket_pending(spark, tiny_df, tmp_path):
    """A tier_df that fails at execution time: commit_bucket raises (does not
    wait on the observation forever) and writes no manifest."""
    out = str(tmp_path / "fail_out")
    bad = cascade(tiny_df, w=64, fanout=8, tiers=1).withColumn("t_cnt", F.expr("t_cnt div 0"))
    err = []

    def run():
        try:
            commit_bucket(bad, out, 0, "t", params={"n_tiers": 1})
        except Exception as e:  # noqa: BLE001 - inspected below
            err.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(300)
    assert not t.is_alive(), "commit_bucket hung after a failed write"
    assert err and "DIVIDE_BY_ZERO" in str(err[0])
    assert pending_buckets(out, 1, {}) == [0]
    assert not os.path.exists(os.path.join(out, "_manifests", "0.json"))
    assert not os.path.exists(os.path.join(out, "data", "bucket=0"))


def test_rerun_with_fewer_buckets_drops_the_rest(spark, tmp_path):
    """A run without --resume into the output of a run with more buckets:
    the extra buckets go, and --compress encodes only what this run wrote."""
    from jobs.rollup_job import main

    out = str(tmp_path / "job_out")

    def job(buckets):
        return main(["--input", "synthetic:40", "--out", out, "--buckets", str(buckets), "--w", "64",
                     "--fanout", "8", "--tiers", "2", "--compress", "--master", "local[4]"])

    assert job(4) == 0
    assert job(3) == 0
    assert completed_buckets(out) == {0, 1, 2}
    assert not os.path.exists(os.path.join(out, "data", "bucket=3"))
    rows = 0
    for b in range(3):
        with open(os.path.join(out, "_manifests", f"{b}.json")) as f:
            rows += json.load(f)["tiers"]["1"]["rows"]
    pts = spark.read.parquet(f"{out}/compressed").filter(F.col("tier") == 1).agg(F.sum("n_points")).first()[0]
    assert pts == rows


@pytest.mark.parametrize("earlier_input", [None, "synthetic:25"], ids=["fresh_out", "stale_compressed"])
def test_resume_redoes_a_compress_step_killed_after_every_bucket_committed(spark, tmp_path, monkeypatch,
                                                                           earlier_input):
    """A kill after the last bucket commit and before the compress write
    finishes leaves every bucket committed: the resume has no pending bucket
    but must still write the segments, byte for byte what an uninterrupted
    run writes. With ``stale_compressed`` the --out already holds a finished
    compressed/ (and its _SUCCESS) from a run over another input, which the
    killed run must not leave standing as if it were its own."""
    from crossai_ts_spark.sources import io
    from jobs.rollup_job import main

    def job(out, *extra, input="synthetic:40"):
        return main(["--input", input, "--out", out, "--buckets", "3", "--w", "64",
                     "--fanout", "8", "--tiers", "2", "--compress", "--master", "local[4]", *extra])

    def segments(out):
        return sorted((r.doc_id, r.tier, r.n_points, bytes(r.ts_blob), bytes(r.val_blob))
                      for r in spark.read.parquet(f"{out}/compressed").collect())

    whole, killed = str(tmp_path / "whole"), str(tmp_path / "killed")
    assert job(whole) == 0
    if earlier_input:
        assert job(killed, input=earlier_input) == 0
        assert segments(killed) != segments(whole)
    real = io.write_table

    def dies_on_compress(df, location, *a, **kw):
        if location.endswith("/compressed"):
            raise OSError("killed in the compress write")
        return real(df, location, *a, **kw)

    monkeypatch.setattr(io, "write_table", dies_on_compress)
    with pytest.raises(OSError, match="killed"):
        job(killed)
    monkeypatch.setattr(io, "write_table", real)
    assert completed_buckets(killed) == {0, 1, 2}
    assert not os.path.exists(os.path.join(killed, "compressed", "_SUCCESS"))
    assert job(killed, "--resume") == 0
    assert segments(killed) == segments(whole)


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
