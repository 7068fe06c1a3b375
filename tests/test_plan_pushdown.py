"""Physical-plan guarantees: predicate pushdown, column pruning, and
partition pruning must actually reach the parquet scan — the properties
that keep a 100 TB read from touching 100 TB."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_reach_parquet_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    # the predicate is pushed to the scan, not applied post-read
    assert "PushedFilters" in plan and "GreaterThan(l_quantity" in plan, plan
    # column pruning: the scan schema carries ONLY the referenced columns
    rs = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_comment" not in rs and "l_extendedprice" not in rs, rs


def test_partition_pruning_on_partitioned_tier_sink(spark, tmp_path):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = str(tmp_path / "ev_by_type")
    ev.write.partitionBy("event_type").parquet(out)

    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = _plan(back)
    # the partition predicate prunes directories at planning time
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters", 1)[1][:200], plan
    # and no row-level filter remains for it post-scan
    n_click = back.count()
    n_all = spark.read.parquet(out).count()
    assert 0 < n_click < n_all


def test_substring_dedup_plan_prunes_and_never_pairs(spark):
    """The substring-dedup scan reads only (doc_id, text) and the plan
    contains no pairing stage — no cartesian/nested-loop join anywhere."""
    from crossai_ts_spark.operators.dedup import substring_dedup_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(substring_dedup_stats(docs))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    for rs in [seg.splitlines()[0] for seg in plan.split("ReadSchema:")[1:]]:
        assert "lang" not in rs and "n_chars" not in rs, rs


def test_bm25_plan_broadcasts_stats_not_corpus(spark, monkeypatch):
    """df/stats sides broadcast; the corpus is never nested-loop joined."""
    from crossai_ts_spark.operators import textstats
    from crossai_ts_spark.operators.textstats import bm25_scores

    monkeypatch.setattr(textstats, "BM25_TERMS", ["join", "scan"])
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(bm25_scores(docs))
    assert "CartesianProduct" not in plan, plan
    # the 1-row stats cross join must be a broadcast, not a shuffle join
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan or "BroadcastExchange" in plan, plan


def test_asof_plan_one_key_exchange_no_join(spark):
    """The as-of join is one hash exchange of left+right on the key feeding
    the ordered window: no join node, no second exchange on the key."""
    from crossai_ts_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{SF}/events.parquet")
    l = ev.filter("event_type = 'click'").select("user_id", "ts", "event_id")
    r = ev.filter("event_type = 'view'").select("user_id", "ts", "value")
    for direction in ("backward", "forward"):
        plan = _plan(asof_join(l, r, direction=direction))
        assert plan.count("Exchange hashpartitioning(user_id") == 1, plan
        assert "Join" not in plan, plan
        window = plan.split("Window [", 1)[1]
        assert "Exchange hashpartitioning(user_id" in window, plan


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Co-located joins via bucketed tables: both sides written with
    bucketBy(8, k).sortBy(k) join WITHOUT any Exchange on either input —
    the pre-shuffled layout that turns the repeated 100-TB fact-to-fact
    join into a zero-shuffle sort-merge (the bucketing leg of the
    'partitioning & shuffle' scale mandate; broadcast disabled so the
    planner can't hide the shuffle elimination)."""
    import uuid

    db = f"bkt_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path}/{db}'")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        a = spark.range(0, 10000).selectExpr("id % 997 AS k", "id AS va")
        b = spark.range(0, 5000).selectExpr("id % 997 AS k", "id AS vb")
        for name, df in (("ta", a), ("tb", b)):
            df.write.bucketBy(8, "k").sortBy("k").saveAsTable(f"{db}.{name}")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(f"{db}.ta").join(spark.table(f"{db}.tb"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
        # and the join is CORRECT, not just shuffle-free
        got = j.count()
        want = a.join(b, "k").count()
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_cms_plan_map_side_combines_and_broadcasts_lookup(spark):
    """The sketch family's scale contract AS A PLAN: cms_build's shuffle
    input is the partial aggregate (<= CMS_D*CMS_W cells per task, map-side
    combined before the exchange), and cms_lookup broadcasts the sketch
    side — the n-gram universe never shuffles for an estimate."""
    from crossai_ts_spark.operators.cms import cms_build, cms_lookup

    items = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .selectExpr("explode(split(text, ' ')) as ngram")
    )
    sk = cms_build(items)
    plan = _plan(sk)
    # partial_count before the exchange = map-side combine onto <= CMS_D*CMS_W cells
    pre, post = plan.split("Exchange hashpartitioning", 1)
    assert "partial_count" in post, plan  # upstream (printed below exchange)
    assert "HashAggregate" in pre, plan

    queries = items.limit(50).distinct()
    est = cms_lookup(sk, queries)
    lplan = _plan(est)
    assert "BroadcastHashJoin" in lplan, lplan
    assert "CartesianProduct" not in lplan and "BroadcastNestedLoopJoin" not in lplan


def test_hll_plan_map_side_combines_registers(spark):
    """hll_sketch's exchange carries (window, reg, partial_max) — at most
    64 rows per window per task — never raw events."""
    from pyspark.sql import functions as F

    from crossai_ts_spark.operators.hll import hll_sketch

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    plan = _plan(hll_sketch(ev))
    pre, post = plan.split("Exchange hashpartitioning", 1)
    assert "partial_max" in post, plan


def test_kmv_prefilter_caches_hashed_events_and_threshold(spark):
    """VERDICT r6 #2: kmv_sketch must compute the hashed
    events projection and the HLL-derived threshold ONCE each — the
    threshold/candidate/redo passes all read persisted intermediates.
    Plan evidence: every consumer site reads InMemoryTableScan, and after
    one materialization exactly the two tracked caches (hashed events +
    per-window thresholds) are resident; one shared InMemoryRelation per
    cache means its child plan (the md5 projection / the 64-register HLL
    aggregation) executes at most once by cache-build semantics."""
    from pyspark.sql import functions as F

    from crossai_ts_spark.caching import _TRACKED, release_tracked
    from crossai_ts_spark.operators.hll import kmv_sketch

    release_tracked()
    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    km = kmv_sketch(ev)
    try:
        plan = _plan(km)
        # both the candidate pass and the threshold joins read caches
        assert plan.count("InMemoryTableScan") >= 3, plan
        # the two tracked intermediates are exactly e (window_start, h)
        # and thr (window_start, thr, filtered)
        assert len(_TRACKED) == 2, [str(d.columns) for d in _TRACKED]
        cols = sorted(tuple(d.columns) for d in _TRACKED)
        assert cols == [("window_start", "h"), ("window_start", "thr", "filtered")], cols
        n = km.count()
        assert n > 0
        # both caches actually materialized (not just marked)
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        assert sum(1 for i in infos if i.numCachedPartitions() > 0) >= 2, [
            str(i) for i in infos
        ]
    finally:
        release_tracked()


def test_streaming_hll_native_plan_is_zero_python(spark, tmp_path):
    """r7: streaming_hll_native's whole value is that the ingest path never
    leaves the JVM — the EXECUTED streaming plan must be a pure stateful
    HashAggregate over SQL expressions, with NO Python/Arrow evaluation
    node anywhere. Asserted on the live query's explainInternal after one
    micro-batch, which is the plan that actually ran."""
    from pyspark.sql import functions as F  # noqa: F811

    from crossai_ts_spark.streaming.rollup_stream import streaming_hll_native

    in_dir = tmp_path / "ev"
    spark.createDataFrame(
        [(i, f"2024-01-01 00:00:{i % 60:02d}", str(i % 7)) for i in range(100)],
        "event_id long, ts_s string, user_id string",
    ).coalesce(1).write.parquet(str(in_dir / "b0"))
    raw = spark.readStream.schema(
        "event_id long, ts_s string, user_id string"
    ).parquet(str(in_dir) + "/*")
    ev = raw.select("event_id", F.to_timestamp("ts_s").alias("ts"), "user_id")
    out = streaming_hll_native(ev)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("nat_plan_out").start())
    try:
        q.processAllAvailable()
        plan = q._jsq.explainInternal(True)
    finally:
        q.stop()
    for marker in ("Python", "Arrow", "FlatMapGroups", "MapInPandas"):
        assert marker not in plan, f"{marker} leaked into the native plan:\n{plan}"
    # the state IS the register fold: stateful agg grouped on (window, reg)
    assert "StateStoreSave" in plan and "max(rank" in plan, plan
