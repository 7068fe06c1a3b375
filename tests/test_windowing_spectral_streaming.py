"""The streaming surface: each stream against its batch twin."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def test_streaming_tier1_equals_batch(spark, tiny_df, tiny_docs, tmp_path):
    """The batch cascade run on a stream == the batch oracle on the same
    files (stateless op)."""
    from crossai_ts_spark.operators.rollup import cascade
    from crossai_ts_spark.oracle.rollup import rollup_frame
    from crossai_ts_spark.streaming.rollup_stream import read_sequence_stream, run_to_memory

    path = str(tmp_path / "seq_stream")
    tiny_df.write.mode("overwrite").parquet(path)
    stream = read_sequence_stream(spark, path)
    run_to_memory(cascade(stream, w=64, tiers=1), "t1_stream")
    got = spark.sql("SELECT * FROM t1_stream").toPandas()
    exp = rollup_frame(tiny_docs, 64)
    key = ["doc_id", "window_start"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    assert len(got) == len(exp)
    assert (got.t_sum.to_numpy() == exp.t_sum.to_numpy()).all()
    assert (got.t_mean.to_numpy().view(np.int64) == exp.t_mean.to_numpy().view(np.int64)).all()


def test_incremental_tier1_stateful_matches_batch(spark, tmp_path):
    """applyInPandasWithState incremental rollup over chunked arrivals ==
    the batch oracle, including ragged tails, across trigger boundaries
    (one chunk-file per trigger; exact-boundary chunks exercise the
    cnt==0 state carry)."""
    import numpy as np
    import pandas as pd

    from crossai_ts_spark.datagen import gen_local
    from crossai_ts_spark.oracle.rollup import rollup_frame
    from crossai_ts_spark.streaming.rollup_stream import incremental_tier1

    docs = gen_local(seed=11, n_docs=12, max_tok=700)
    w = 64
    # batch expectation
    want = (
        rollup_frame(docs, w)[["doc_id", "window_start", "t_min", "t_max", "t_sum", "t_cnt", "t_last", "t_mean"]]
        .sort_values(["doc_id", "window_start"])
        .reset_index(drop=True)
    )
    # chunked arrivals: irregular chunk sizes incl. exact window multiples
    in_dir = tmp_path / "chunks"
    in_dir.mkdir()
    rng = np.random.default_rng(3)
    trigger = 0
    pending = [
        (r.doc_id, list(r.tokens), r.source) for r in docs.itertuples(index=False)
    ]
    cursors = {d: 0 for d, _, _ in pending}
    while pending:
        rows = []
        nxt = []
        for doc_id, toks, source in pending:
            c = cursors[doc_id]
            size = int(rng.choice([w, 37, 128, 200, len(toks) - c]))
            size = max(1, min(size, len(toks) - c))
            chunk = toks[c : c + size]
            cursors[doc_id] = c + size
            is_last = cursors[doc_id] >= len(toks)
            rows.append((doc_id, trigger, chunk, bool(is_last), source))
            if not is_last:
                nxt.append((doc_id, toks, source))
        pdf = pd.DataFrame(rows, columns=["doc_id", "chunk_idx", "tokens", "is_last", "source"])
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(in_dir / f"t{trigger:03d}"))
        pending = nxt
        trigger += 1
    # one directory per trigger -> feed files in order
    stream = (
        spark.readStream.schema(
            "doc_id string, chunk_idx long, tokens array<int>, is_last boolean, source string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "t*"))
    )
    out = incremental_tier1(stream, w=w)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("inc_tier1")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # every doc finished: each removed its state
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 0
    got = (
        spark.sql("SELECT doc_id, window_start, t_min, t_max, t_sum, t_cnt, t_last, t_mean FROM inc_tier1")
        .toPandas()
        .sort_values(["doc_id", "window_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want[got.columns], check_dtype=False)


def test_incremental_tier1_null_token_element_is_a_named_error(spark, tmp_path):
    """A null INSIDE a chunk's token array fails the query with the error
    that names the doc, as the batch cascade does — never INT64_MIN
    window stats."""
    import pytest

    from crossai_ts_spark.streaming.rollup_stream import incremental_tier1

    schema = "doc_id string, chunk_idx long, tokens array<int>, is_last boolean, source string"
    in_dir = tmp_path / "holed"
    spark.createDataFrame([("holed", 0, [1, None, 3], True, "s")], schema).coalesce(1) \
        .write.parquet(str(in_dir / "t000"))
    stream = spark.readStream.schema(schema).parquet(str(in_dir / "t*"))
    q = (
        incremental_tier1(stream, w=2)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("inc_tier1_holed")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        with pytest.raises(Exception, match=r"doc_id 'holed': tokens array holds a null element"):
            q.processAllAvailable()
    finally:
        q.stop()
    assert spark.sql("SELECT count(*) c FROM inc_tier1_holed").first()["c"] == 0


def test_incremental_tier1_null_chunk_is_a_named_error(spark, tmp_path):
    """A null ``tokens`` cell in a doc's chunks fails the query with an
    error that names the doc, not an unnamed TypeError."""
    import pytest

    from crossai_ts_spark.streaming.rollup_stream import incremental_tier1

    schema = "doc_id string, chunk_idx long, tokens array<int>, is_last boolean, source string"
    in_dir = tmp_path / "null_chunk"
    spark.createDataFrame([("gappy", 0, [1, 2, 3], False, "s"), ("gappy", 1, None, True, "s")],
                          schema).coalesce(1).write.parquet(str(in_dir / "t000"))
    stream = spark.readStream.schema(schema).parquet(str(in_dir / "t*"))
    q = (
        incremental_tier1(stream, w=2)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("inc_tier1_null_chunk")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        with pytest.raises(Exception, match=r"doc_id 'gappy': tokens cell is null"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_incremental_tier1_restart_from_checkpoint(spark, tmp_path):
    """Exactly-once across a query RESTART: the stateful incremental rollup
    is stopped mid-stream (half the trigger files processed), then a new
    query starts from the SAME checkpoint with the remaining files present.
    GroupState (open mid-doc windows) must recover from the state store and
    the file sink must contain each rolled-up point exactly once, equal to
    the batch rollup — the streaming mirror of the batch SIGKILL-resume
    proof (plans/checkpoint.py)."""
    import numpy as np
    import pandas as pd

    from crossai_ts_spark.datagen import gen_local
    from crossai_ts_spark.oracle.rollup import rollup_frame
    from crossai_ts_spark.streaming.rollup_stream import incremental_tier1

    docs = gen_local(seed=21, n_docs=10, max_tok=600)
    w = 64
    want = (
        rollup_frame(docs, w)[["doc_id", "window_start", "t_min", "t_max", "t_sum", "t_cnt", "t_last", "t_mean"]]
        .sort_values(["doc_id", "window_start"])
        .reset_index(drop=True)
    )

    # chunk files, one per trigger (same construction as the parity test)
    in_dir = tmp_path / "chunks"
    in_dir.mkdir()
    rng = np.random.default_rng(8)
    trigger = 0
    pending = [(r.doc_id, list(r.tokens), r.source) for r in docs.itertuples(index=False)]
    cursors = {d: 0 for d, _, _ in pending}
    staged: list[tuple[str, pd.DataFrame]] = []
    while pending:
        rows, nxt = [], []
        for doc_id, toks, source in pending:
            c = cursors[doc_id]
            size = int(rng.choice([w, 41, 150, len(toks) - c]))
            size = max(1, min(size, len(toks) - c))
            chunk = toks[c : c + size]
            cursors[doc_id] = c + size
            is_last = cursors[doc_id] >= len(toks)
            rows.append((doc_id, trigger, chunk, bool(is_last), source))
            if not is_last:
                nxt.append((doc_id, toks, source))
        staged.append(
            (f"t{trigger:03d}", pd.DataFrame(rows, columns=["doc_id", "chunk_idx", "tokens", "is_last", "source"]))
        )
        pending = nxt
        trigger += 1
    assert len(staged) >= 2, "need multiple triggers to interrupt between"

    schema = "doc_id string, chunk_idx long, tokens array<int>, is_last boolean, source string"
    half = max(1, len(staged) // 2)
    for name, pdf in staged[:half]:
        spark.createDataFrame(pdf, schema=schema).coalesce(1).write.parquet(str(in_dir / name))

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt_restart")

    def start_query():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir / "t*"))
        )
        return (
            incremental_tier1(stream, w=w)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    # phase 1: process the first half, then stop (mid-doc state open)
    q1 = start_query()
    q1.processAllAvailable()
    q1.stop()
    # the state store holds one row per open doc: its open window's raw
    # tokens, fewer than w
    open_docs = {d for _, pdf in staged[:half] for d in pdf.doc_id} - {
        d for _, pdf in staged[:half] for d in pdf[pdf.is_last].doc_id}
    state = spark.read.format("statestore").load(ckpt).select(
        "key.doc_id", "value.groupState.tail_start", "value.groupState.tail").toPandas()
    assert open_docs and sorted(state.doc_id) == sorted(open_docs)
    assert (state["tail"].map(len) < w).all()
    assert (state.tail_start % w == 0).all()

    # phase 2: remaining files appear; NEW query, SAME checkpoint
    for name, pdf in staged[half:]:
        spark.createDataFrame(pdf, schema=schema).coalesce(1).write.parquet(str(in_dir / name))
    q2 = start_query()
    q2.processAllAvailable()
    q2.stop()

    got = (
        spark.read.parquet(sink)
        .select("doc_id", "window_start", "t_min", "t_max", "t_sum", "t_cnt", "t_last", "t_mean")
        .toPandas()
        .sort_values(["doc_id", "window_start"])
        .reset_index(drop=True)
    )
    # exactly-once: no duplicate (doc, window) rows, full equality to batch
    assert not got.duplicated(["doc_id", "window_start"]).any()
    pd.testing.assert_frame_equal(got, want[got.columns], check_dtype=False)


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    """Duplicates arriving in LATER micro-batches are dropped by the state
    store; the surviving set matches batch dedup_exact canonicals."""
    from crossai_ts_spark.streaming.rollup_stream import run_to_memory, streaming_dedup

    in_dir = tmp_path / "docs_stream"
    schema = "doc_id long, text string, lang string, source string"
    b0 = [(1, "alpha beta gamma", "en", "t"), (2, "delta epsilon zeta", "en", "t")]
    b1 = [(3, "alpha beta gamma", "en", "t"),  # dup of doc 1, later batch
          (4, "eta theta iota", "en", "t"),
          (5, "delta epsilon zeta", "en", "t")]  # dup of doc 2
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(str(in_dir / "b0"))
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(in_dir / "b1"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*")
    )
    run_to_memory(streaming_dedup(stream), "dedup_stream")
    got = spark.sql("SELECT * FROM dedup_stream").toPandas()
    assert len(got) == 3  # 5 in, 2 cross-batch dups dropped
    assert set(got.h) == set(
        r.h for r in spark.createDataFrame(b0 + b1, schema)
        .selectExpr("md5(cast(text as binary)) h").distinct().collect()
    )


def test_streaming_dedup_event_time_watermark(spark, tmp_path):
    """With a true event-time column, the dedup watermark advances on event
    time: a duplicate INSIDE the watermark window is dropped even though it
    arrives in a later micro-batch, independent of wall-clock timing."""
    from crossai_ts_spark.streaming.rollup_stream import run_to_memory, streaming_dedup

    in_dir = tmp_path / "docs_ev"
    schema = "doc_id long, text string, ev timestamp_ntz"
    b0 = [(1, "alpha beta", "2024-01-01 00:00:00"), (2, "gamma delta", "2024-01-01 00:00:05")]
    b1 = [(3, "alpha beta", "2024-01-01 00:00:20"),  # dup within 1-min watermark
          (4, "epsilon zeta", "2024-01-01 00:00:30")]
    mk = lambda rows: spark.createDataFrame(
        [(d, t, pd.Timestamp(e).to_pydatetime()) for d, t, e in rows], schema
    )
    mk(b0).coalesce(1).write.parquet(str(in_dir / "b0"))
    mk(b1).coalesce(1).write.parquet(str(in_dir / "b1"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*")
    )
    run_to_memory(streaming_dedup(stream, event_ts="ev"), "dedup_ev_stream")
    got = spark.sql("SELECT * FROM dedup_ev_stream").toPandas()
    assert len(got) == 3
    assert set(got.doc_id) == {1, 2, 4}


def test_streaming_sessions_match_batch_closed_sessions(spark, tmp_path):
    """Streamed native session windows (append mode) emit exactly the
    sessions the final watermark has closed, identical to the batch
    session_window aggregation restricted to those sessions."""
    from crossai_ts_spark.streaming.rollup_stream import run_to_memory, streaming_sessions

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .selectExpr("user_id", "cast(ts as timestamp) ts")
    )
    in_dir = tmp_path / "ev_stream"
    # two micro-batches split by time so sessions span batch boundaries
    import pyspark.sql.functions as F
    mid = ev.agg(F.expr("percentile(unix_micros(ts), 0.5)")).collect()[0][0]
    us = F.expr("unix_micros(ts)")
    ev.filter(us <= mid).coalesce(1).write.parquet(str(in_dir / "b0"))
    ev.filter(us > mid).coalesce(1).write.parquet(str(in_dir / "b1"))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*")
    )
    run_to_memory(streaming_sessions(stream), "sess_stream")
    got = spark.sql("SELECT * FROM sess_stream").toPandas()

    batch = (
        ev.groupBy("user_id", F.session_window("ts", "60 seconds"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("session_window.start").alias("sess_start"),
                F.col("session_window.end").alias("sess_end"), "n_events")
    ).toPandas()
    wm = ev.agg(F.max("ts")).collect()[0][0]
    import pandas as pd
    closed = batch[batch.sess_end <= wm - pd.Timedelta(seconds=10)]

    key = ["user_id", "sess_start"]
    g = got.sort_values(key).reset_index(drop=True)
    c = closed.sort_values(key).reset_index(drop=True)
    assert len(g) > 50  # the stream genuinely emitted sessions
    pd.testing.assert_frame_equal(g[key + ["sess_end", "n_events"]],
                                  c[key + ["sess_end", "n_events"]])


def test_streaming_packing_matches_batch(spark, tmp_path):
    """Docs fed in doc_id-ordered triggers get the exact (pack_id,
    pack_off) assignment of the batch packer; the offset cursor survives
    across micro-batches; state is one long per shard."""
    import pandas as pd

    from crossai_ts_spark.operators.packing import pack_sequences
    from crossai_ts_spark.streaming.rollup_stream import run_to_memory, streaming_packing

    schema = "doc_id string, source string, n_tok long"
    b0 = [("a01", "s1", 300), ("a02", "s1", 300), ("b01", "s2", 512)]
    b1 = [("a03", "s1", 500), ("b02", "s2", 100)]   # continues both shards
    in_dir = tmp_path / "pack_stream"
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(str(in_dir / "b0"))
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(in_dir / "b1"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*")
    )
    run_to_memory(streaming_packing(stream), "pack_stream_out")
    got = (
        spark.sql("SELECT * FROM pack_stream_out")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    batch = (
        pack_sequences(spark.createDataFrame(b0 + b1, schema))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[batch.columns], batch, check_dtype=False)
    # cross-batch cursor: a03 starts at 600 (after a01+a02), straddling
    a03 = got.set_index("doc_id").loc["a03"]
    assert a03.cum_start == 600 and a03.pack_id == 1 and bool(a03.spans_packs)


def test_streaming_packing_multi_chunk_trigger(spark, tmp_path):
    """A single trigger whose group data exceeds arrow maxRecordsPerBatch
    arrives as MULTIPLE pandas chunks — the doc_id sort must be global
    over the trigger, not per-chunk (the offsets would otherwise follow
    chunk order). Rows are written in REVERSED doc_id order so any
    per-chunk sort provably diverges from the global one."""
    import pandas as pd

    from crossai_ts_spark.operators.packing import pack_sequences
    from crossai_ts_spark.streaming.rollup_stream import run_to_memory, streaming_packing

    schema = "doc_id string, source string, n_tok long"
    rows = [(f"d{i:04d}", "s1", 37 + (i * 13) % 100) for i in range(200)]
    in_dir = tmp_path / "pack_chunks"
    spark.createDataFrame(list(reversed(rows)), schema).coalesce(1).write.parquet(
        str(in_dir / "b0")
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        stream = spark.readStream.schema(schema).parquet(str(in_dir) + "/*")
        run_to_memory(streaming_packing(stream), "pack_chunk_out")
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = (
        spark.sql("SELECT * FROM pack_chunk_out")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    batch = (
        pack_sequences(spark.createDataFrame(rows, schema))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert len(got) == 200
    pd.testing.assert_frame_equal(got[batch.columns], batch, check_dtype=False)


def test_incremental_tier1_multi_arrow_chunk_trigger(spark, tmp_path):
    """One trigger delivering a doc's 30 chunks across MULTIPLE Arrow
    batches (maxRecordsPerBatch=4), written in REVERSED chunk_idx order:
    the global trigger-wide sort must reassemble the token stream exactly
    (per-chunk sorting would scramble offsets)."""
    import pandas as pd

    from crossai_ts_spark.oracle.rollup import rollup_frame
    from crossai_ts_spark.streaming.rollup_stream import incremental_tier1, run_to_memory

    w = 64
    toks = [(i * 29) % 251 for i in range(900)]
    chunks = [toks[i * 30 : (i + 1) * 30] for i in range(30)]
    rows = [
        ("d0", ci, chunks[ci], ci == len(chunks) - 1, "s")
        for ci in reversed(range(len(chunks)))
    ]
    in_dir = tmp_path / "one_trigger"
    spark.createDataFrame(
        rows, "doc_id string, chunk_idx long, tokens array<int>, is_last boolean, source string"
    ).coalesce(1).write.parquet(str(in_dir / "t0"))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        stream = spark.readStream.schema(
            "doc_id string, chunk_idx long, tokens array<int>, is_last boolean, source string"
        ).parquet(str(in_dir) + "/t*")
        run_to_memory(incremental_tier1(stream, w=w), "inc_chunky")
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = (
        spark.sql("SELECT * FROM inc_chunky").toPandas()
        .sort_values("window_start").reset_index(drop=True)
    )
    seqs = pd.DataFrame([("d0", toks, len(toks), "s")], columns=["doc_id", "tokens", "n_tok", "source"])
    want = rollup_frame(seqs, w).sort_values("window_start").reset_index(drop=True)
    cols = ["doc_id", "window_start", "t_min", "t_max", "t_sum", "t_cnt", "t_last", "t_mean"]
    pd.testing.assert_frame_equal(got[cols], want[cols], check_dtype=False)


def test_streaming_cms_matches_batch(spark, tmp_path, monkeypatch):
    """Continuous count-min sketch: the batch ``cms_build`` run on a stream
    is the streaming aggregation, whose state is the sketch itself (<= d*w
    cells, bounded by construction; a 64-cell row here), and after consuming the whole bounded
    stream the complete-mode sink equals cms_build over the same items
    cell-for-cell — so cms_lookup estimates carry the batch one-sided
    guarantee at any point in the stream."""
    import pandas as pd

    from crossai_ts_spark.operators import cms
    from crossai_ts_spark.operators.cms import CMS_D, cms_build, cms_lookup
    from crossai_ts_spark.streaming.rollup_stream import run_to_memory

    d, w = CMS_D, 64
    monkeypatch.setattr(cms, "CMS_W", w)
    # zipf-ish repeats so several keys share cells (collisions exercised)
    rows = [(f"k{(i * i) % 37}",) for i in range(500)]
    in_dir = tmp_path / "cms_stream"
    spark.createDataFrame(rows[:250], "ngram string").coalesce(1).write.parquet(
        str(in_dir / "b0")
    )
    spark.createDataFrame(rows[250:], "ngram string").coalesce(1).write.parquet(
        str(in_dir / "b1")
    )

    raw = spark.readStream.schema("ngram string").option("maxFilesPerTrigger", 1).parquet(
        str(in_dir) + "/*"
    )
    run_to_memory(cms_build(raw), "cms_stream_out",
                  output_mode="complete")
    got = (
        spark.sql("SELECT * FROM cms_stream_out").toPandas()
        .sort_values(["row", "cell"]).reset_index(drop=True)
    )
    assert len(got) <= d * w  # bounded state, never keyed by stream size

    batch = spark.createDataFrame(rows, "ngram string")
    want = (
        cms_build(batch).toPandas()
        .sort_values(["row", "cell"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    # identical sketches => identical estimates; spot the guarantee too
    queries = spark.createDataFrame([(f"k{j}",) for j in range(37)], "ngram string")
    stream_sketch = spark.sql("SELECT * FROM cms_stream_out")
    est = cms_lookup(stream_sketch, queries).toPandas()
    truth = pd.DataFrame(rows, columns=["ngram"]).value_counts("ngram")
    for _, r in est.iterrows():
        assert r["est"] >= truth.get(r["ngram"], 0)  # one-sided: est >= truth


def test_streaming_kmv_matches_batch(spark, tmp_path):
    """GroupState KMV: k longs of state per window across triggers; the
    LAST emission per window (max n_events) equals the batch kmv_sketch
    BITWISE — same md5 hash projection, same IEEE estimator op order."""
    from crossai_ts_spark.operators.hll import kmv_sketch
    from crossai_ts_spark.streaming.rollup_stream import run_until_rows, streaming_kmv

    rows = [(i, f"2024-01-01 0{i % 4}:1{i % 5}:2{i % 3}", i * 13 % 97) for i in range(600)]
    schema = "event_id long, ts_s string, user_id long"
    in_dir = tmp_path / "kmv_stream"
    # null-bearing rows ride ONLY the stream (ADVICE r7): a null
    # timestamp (what try_to_timestamp yields for malformed input) and a
    # null key must be dropped at ingest — not kill the query with a
    # NaN->int64 cast — and must not change any estimate
    bad = [(1000, None, 5), (1001, "2024-01-01 00:10:20", None)]
    spark.createDataFrame(rows[:300], schema).coalesce(1).write.parquet(str(in_dir / "b0"))
    spark.createDataFrame(rows[300:] + bad, schema).coalesce(1).write.parquet(str(in_dir / "b1"))

    raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(in_dir) + "/*"
    )
    ev = raw.select("event_id", F.to_timestamp("ts_s").alias("ts"), "user_id")
    # 2 file-triggers x 4 windows = 8 emissions; ProcessingTimeTimeout
    # keeps scheduling timer batches, so poll the sink (run_until_rows)
    run_until_rows(streaming_kmv(ev), "kmv_stream_out", 8)
    emitted = spark.sql("SELECT * FROM kmv_stream_out").toPandas()
    final = (
        emitted.sort_values("n_events").groupby("window_start").last().reset_index()
    )

    batch_ev = spark.createDataFrame(rows, schema).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id"
    )
    want = (
        kmv_sketch(batch_ev)
        .toPandas().sort_values("window_start").reset_index(drop=True)
    )
    got = final.sort_values("window_start").reset_index(drop=True)
    assert len(got) == len(want) == 4
    for i in range(4):
        assert list(got.loc[i, "ks"]) == list(want.loc[i, "ks"])  # bitwise hashes
        assert got.loc[i, "n_distinct_est"] == want.loc[i, "n_distinct_est"]  # exact double
    # bounded emission: never more than k hashes per window
    assert emitted["ks"].map(len).max() <= 8


def test_incremental_tier1_state_ttl_flushes_tail(spark, tmp_path):
    """r6: with state_ttl_sec set, a doc whose producer dies mid-doc (no
    is_last ever arrives) has its open ragged tail FLUSHED after the TTL
    — emitted exactly as an is_last would have emitted it — instead of
    leaking state forever. A doc that does finish emits identically to
    the NoTimeout path."""
    import pandas as pd

    from crossai_ts_spark.streaming.rollup_stream import (
        incremental_tier1,
        run_until_rows,
    )

    w = 8
    in_dir = tmp_path / "ttl_chunks"
    in_dir.mkdir()
    # doc A: 20 tokens, finished (is_last on chunk 1) -> windows 0,8,16
    # doc B: 11 tokens, producer dies (never is_last)  -> 0 full, tail [8,11)
    t0 = pd.DataFrame(
        [("A", 0, list(range(100, 112)), False, "s"),
         ("B", 0, list(range(200, 211)), False, "s")],
        columns=["doc_id", "chunk_idx", "tokens", "is_last", "source"],
    )
    t1 = pd.DataFrame(
        [("A", 1, list(range(112, 120)), True, "s")],
        columns=["doc_id", "chunk_idx", "tokens", "is_last", "source"],
    )
    schema = "doc_id string, chunk_idx long, tokens array<long>, is_last boolean, source string"
    spark.createDataFrame(t0, schema).coalesce(1).write.parquet(str(in_dir / "b0"))
    spark.createDataFrame(t1, schema).coalesce(1).write.parquet(str(in_dir / "b1"))

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(in_dir) + "/*"
    )
    # expect: A -> 0,8,16 (3 windows, 16 is the is_last tail of size 4);
    # B -> window 0 (full, emitted on arrival) + window 8 tail of size 3
    # flushed by the 2s TTL => 5 rows total
    q = run_until_rows(
        incremental_tier1(stream, w=w, state_ttl_sec=2), "inc_ttl_out", 5,
        timeout_sec=120.0,
    )
    # A finished and B was flushed: neither left state behind
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 0
    got = (
        spark.sql("SELECT * FROM inc_ttl_out").toPandas()
        .sort_values(["doc_id", "window_start"]).reset_index(drop=True)
    )
    assert len(got) == 5
    a = got[got.doc_id == "A"]
    assert list(a.window_start) == [0, 8, 16]
    assert list(a.t_cnt) == [8, 8, 4]
    b = got[got.doc_id == "B"]
    assert list(b.window_start) == [0, 8]
    assert list(b.t_cnt) == [8, 3]
    # flushed tail carries the exact aggregates of tokens 208..210
    tail = b[b.window_start == 8].iloc[0]
    assert (tail.t_min, tail.t_max, tail.t_sum, tail.t_last) == (208, 210, 627, 210)


def test_streaming_hll_native_matches_batch_bitwise(spark, tmp_path):
    """r7: the zero-Python native twin — the batch hll_sketch fold run AS
    a streaming aggregation. Max-per-(window,reg) over the update-mode
    sink must be BITWISE the batch hll_sketch register rows (shared
    _reg_rank_fold plan); hll_estimate over those registers is then the
    batch estimate by construction."""
    import pandas as pd

    from crossai_ts_spark.operators.hll import hll_estimate, hll_sketch
    from crossai_ts_spark.streaming.rollup_stream import (
        run_to_memory,
        streaming_hll_native,
    )

    rows = [(i, f"2024-01-01 0{i % 4}:1{i % 5}:2{i % 3}", i * 13 % 97) for i in range(600)]
    schema = "event_id long, ts_s string, user_id long"
    in_dir = tmp_path / "hll_native_stream"
    spark.createDataFrame(rows[:300], schema).coalesce(1).write.parquet(str(in_dir / "b0"))
    spark.createDataFrame(rows[300:], schema).coalesce(1).write.parquet(str(in_dir / "b1"))

    raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(in_dir) + "/*"
    )
    ev = raw.select("event_id", F.to_timestamp("ts_s").alias("ts"), "user_id")
    # pure streaming agg, no timers -> processAllAvailable() terminates
    run_to_memory(streaming_hll_native(ev), "hll_native_out", "update")
    # update mode re-emits a (window,reg) row whenever its M grows;
    # per-key M is monotone, so max over the sink = final register
    got = (
        spark.sql(
            "SELECT window_start, reg, max(M) AS M FROM hll_native_out "
            "GROUP BY window_start, reg"
        )
        .toPandas()
        .sort_values(["window_start", "reg"])
        .reset_index(drop=True)
    )

    batch_ev = spark.createDataFrame(rows, schema).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id"
    )
    want = (
        hll_sketch(batch_ev)
        .toPandas()
        .sort_values(["window_start", "reg"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want[got.columns], check_dtype=False)

    # and the estimator over the streamed registers is the batch estimate
    est_stream = (
        hll_estimate(spark.createDataFrame(got))
        .toPandas().sort_values("window_start").reset_index(drop=True)
    )
    est_batch = (
        hll_estimate(hll_sketch(batch_ev))
        .toPandas().sort_values("window_start").reset_index(drop=True)
    )
    assert list(est_stream["est_distinct"]) == list(est_batch["est_distinct"])


def test_streaming_hll_native_drops_null_key_and_ts_rows(spark, tmp_path):
    """A stream event with a null user_id or a null ts is dropped before
    hashing, as the batch sketch drops it: the streamed registers equal
    the batch sketch of the same events without the null rows (a null
    hash used to become a register row with a NULL reg)."""
    import pandas as pd

    from crossai_ts_spark.operators.hll import hll_sketch
    from crossai_ts_spark.streaming.rollup_stream import (
        run_to_memory,
        streaming_hll_native,
    )

    rows = [(i, f"2024-01-01 05:{i:02d}:00", i) for i in range(50)]
    bad = [(50, "2024-01-01 05:30:00", None), (51, None, 7)]
    schema = "event_id long, ts_s string, user_id long"
    in_dir = tmp_path / "hll_native_nulls"
    spark.createDataFrame(rows + bad, schema).coalesce(1).write.parquet(str(in_dir / "b0"))
    raw = spark.readStream.schema(schema).parquet(str(in_dir) + "/*")
    ev = raw.select("event_id", F.to_timestamp("ts_s").alias("ts"), "user_id")
    run_to_memory(streaming_hll_native(ev), "hll_native_nulls_out", "update")
    key = ["window_start", "reg"]
    got = (
        spark.sql(
            "SELECT window_start, reg, max(M) AS M FROM hll_native_nulls_out "
            "GROUP BY window_start, reg"
        )
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    clean = spark.createDataFrame(rows, schema).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id"
    )
    want = hll_sketch(clean).toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want[got.columns], check_dtype=False)


def test_streaming_hll_native_append_mode_emits_after_watermark(spark, tmp_path):
    """r7: the native twin's state is scoped by EVENT-TIME watermark (vs
    the GroupState stream's processing-time TTL). In append mode a
    window's registers must emit exactly once — finalized — after the
    watermark passes window end, and windows the watermark has not
    passed must stay unemitted (their state is still open). Batch 1
    fills hours 0-1; batch 2 jumps to hour 6, dragging the 2h watermark
    past both early windows; windows 0-1 then appear in the sink, final
    and bitwise-batch-equal, while hour 6 stays open."""
    import pandas as pd

    from crossai_ts_spark.operators.hll import hll_sketch
    from crossai_ts_spark.streaming.rollup_stream import streaming_hll_native

    early = [(i, f"2024-01-01 0{i % 2}:1{i % 5}:2{i % 3}", i * 13 % 41) for i in range(200)]
    late = [(1000 + i, f"2024-01-01 06:1{i % 5}:2{i % 3}", i % 17) for i in range(50)]
    schema = "event_id long, ts_s string, user_id long"
    in_dir = tmp_path / "hll_native_append"
    spark.createDataFrame(early, schema).coalesce(1).write.parquet(str(in_dir / "b0"))
    spark.createDataFrame(late, schema).coalesce(1).write.parquet(str(in_dir / "b1"))

    raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(in_dir) + "/*"
    )
    ev = raw.select("event_id", F.to_timestamp("ts_s").alias("ts"), "user_id")
    out = streaming_hll_native(ev)
    # append mode: rows arrive only once the watermark finalizes a window.
    # 2 early windows x up to 64 regs; poll until both windows surface.
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("nat_append_out").start())
    import time

    deadline = time.monotonic() + 240
    try:
        while True:
            n_win = spark.sql(
                "SELECT count(DISTINCT window_start) c FROM nat_append_out"
            ).first()["c"]
            if n_win >= 2:
                break
            assert time.monotonic() < deadline, "early windows never finalized"
            time.sleep(0.25)
        got = (
            spark.sql("SELECT * FROM nat_append_out")
            .toPandas().sort_values(["window_start", "reg"]).reset_index(drop=True)
        )
    finally:
        q.stop()

    # hour 6 must NOT have emitted (watermark has not passed its end)
    assert set(got["window_start"].unique()) == {1704067200, 1704070800}

    # emitted registers are FINAL: bitwise the batch sketch of the early rows
    batch_ev = spark.createDataFrame(early, schema).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id"
    )
    want = (
        hll_sketch(batch_ev)
        .toPandas().sort_values(["window_start", "reg"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)
