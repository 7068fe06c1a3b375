"""Streaming twins of the rollup and the sketches.

The reference has no streaming surface (SURVEY §2.9); this maps the same
tumbling semantics onto Structured Streaming so the engine can ingest
continuously at the 10^12 design point:

  * per-doc tier-1 windows stay NARROW even in streaming when the token
    array arrives whole in one row: the batch ``rollup.cascade(stream,
    w=w, tiers=1)`` runs on the stream unchanged — no watermark/state, the
    same shuffle-free property as the batch path.
  * docs arriving in chunks carry the open window's raw tokens (fewer
    than ``w``) across triggers in GroupState and roll up each trigger's
    full windows with the batch tier-1 kernel (:func:`incremental_tier1`).
  * the sketches (HLL registers, KMV), sessions, dedup and packing have
    one streaming path each; the batch ``cms_build`` runs on a stream
    unchanged (its groupBy sum is an incremental aggregation).
  * the stateful packing and KMV streams keep only their state in Python
    (a shard's token cursor, a window's bottom-k) and run the batch
    operator's own expressions on the stream for the rest
    (``packing._pack_assign``, ``hll._kmv_estimate``).

Local smoke: parquet-dir source -> memory sink -> processAllAvailable().
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.rollup import _flat_tokens, tumbling_rollup
from ..schema import SEQUENCES_SCHEMA
from ..workers import worker_kernel


def read_sequence_stream(spark, path: str) -> DataFrame:
    return (
        spark.readStream.schema(SEQUENCES_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a bounded stream to completion synchronously (tests)."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def run_until_rows(df: DataFrame, name: str, n_rows: int, timeout_sec: float = 240.0):
    """Drive a stream until the memory sink holds >= n_rows, then stop.

    Needed for queries using ProcessingTimeTimeout state: Spark keeps
    scheduling (empty) micro-batches so timers can fire, which means
    ``processAllAvailable()`` never observes quiescence and blocks
    forever — the sink row count is the only sound completion signal for
    a bounded test input. Returns the stopped query; its ``lastProgress``
    covers the trigger that filled the sink."""
    import time

    spark = df.sparkSession
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    deadline = time.monotonic() + timeout_sec

    def wait(what: str) -> None:
        if time.monotonic() > deadline:
            raise TimeoutError(f"{what} within {timeout_sec}s")
        time.sleep(0.25)

    def batch_id() -> int:
        return (q.lastProgress or {}).get("batchId", -1)

    try:
        while spark.sql(f"SELECT count(*) c FROM {name}").first()["c"] < n_rows:
            wait(f"memory sink {name} did not reach {n_rows} rows")
        # a trigger reports its progress after its rows land in the sink:
        # wait until the trigger that filled it has reported
        seen = batch_id()
        while q.status["isTriggerActive"] and batch_id() <= seen:
            wait(f"query {name} did not report its progress")
    finally:
        q.stop()
    return q


# ------------------------------------------------ stateful incremental tier


def incremental_tier1(chunked: DataFrame, w: int,
                      state_ttl_sec: int | None = None) -> DataFrame:
    """Stateful streaming tier-1: token arrays arrive in per-doc CHUNKS
    (doc_id, chunk_idx, tokens, is_last); completed windows emit on
    arrival, the ragged tail on is_last. Each trigger appends the doc's
    chunks, sorted by chunk_idx, to the open window's tokens and rolls up
    every full window with one :func:`~..operators.rollup.tumbling_rollup`
    call — the batch cascade's tier-1 kernel, so the stats are exactly the
    batch rollup's (min/max/sum/cnt/last/mean; parity-tested).

    GroupState per doc is ``(tail_start, tail, source)``: the open window's
    raw tokens (fewer than ``w``) and its offset in the doc. Checkpoints
    written with an earlier state layout do not resume; none was deployed.

    Ordering contract: chunks of one doc must arrive in chunk_idx order
    across triggers (in production: per-key ordered source partitions,
    e.g. keyed Kafka). Within a trigger, rows are chunk_idx-sorted
    globally across however many Arrow batches deliver them.

    State lifecycle: by default completion is is_last-driven (NoTimeout) —
    a producer that dies mid-doc would leak that doc's open tail forever on
    an unbounded stream. Pass ``state_ttl_sec`` to bound it: a doc whose
    chunks stop arriving for that much PROCESSING time has its open tail
    FLUSHED (emitted exactly as an is_last would have emitted it) and its
    state dropped. Late chunks after expiry restart the doc's offset from 0
    (their windows are distinguishable by window_start collisions
    downstream).

    A null element inside a chunk's ``tokens``, or a null ``tokens``
    cell, raises ``ValueError`` naming the doc, as in the batch
    ``cascade``."""
    import numpy as np
    import pandas as pd

    @worker_kernel
    def fn(key, pdfs, state):
        (doc_id,) = key
        tail_start, tail, source = state.get if state.exists else (0, [], None)
        buf = np.asarray(tail, dtype=np.int64)
        flush = state.hasTimedOut
        # one trigger's group data may arrive as MULTIPLE Arrow chunks
        # (past maxRecordsPerBatch): materialize and sort chunk_idx
        # globally, not per-chunk — the same fix streaming_packing carries
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values("chunk_idx")
            buf = np.concatenate([buf, _flat_tokens(pdf)[0]]).astype(np.int64, copy=False)
            if source is None:
                source = next(iter(pdf["source"].dropna()), None)
            flush = bool(pdf["is_last"].any())
        n = buf.size if flush else buf.size // w * w
        _, r = tumbling_rollup(buf[:n], np.zeros(1, dtype=np.int64), np.array([n]), w)
        if flush:
            state.remove()
        else:
            state.update((tail_start + n, buf[n:].tolist(), source))
            if state_ttl_sec is not None:
                state.setTimeoutDuration(state_ttl_sec * 1000)
        r["window_start"] = r["window_start"] + tail_start
        r["t_mean"] = r["t_sum"] / r["t_cnt"]
        yield pd.DataFrame({"doc_id": doc_id, "source": source, **r})

    out_schema = (
        "doc_id string, source string, window_start long, t_min long, t_max long, "
        "t_sum long, t_cnt long, t_last long, t_mean double"
    )
    timeout = "NoTimeout" if state_ttl_sec is None else "ProcessingTimeTimeout"
    return chunked.groupBy("doc_id").applyInPandasWithState(
        fn, out_schema, "tail_start long, tail array<long>, source string",
        "append", timeout
    )


def streaming_dedup(stream: DataFrame, event_ts: str | None = None) -> DataFrame:
    """Streaming exact dedup: the first-seen doc per content hash survives.

    The streaming counterpart of operators/dedup.dedup_exact: dedup state
    is BOUNDED by a 1-minute watermark (hash keys age out once the watermark
    passes them), so state size tracks the ingest window, not the corpus —
    the property that makes continuous dedup viable at the 10^12-doc
    design point.

    Guarantee depends on the time column. With ``event_ts`` (a TRUE
    event-time column in the stream), duplicates are suppressed within the
    event-time watermark window and the behavior is replay-stable across
    restarts. Without one, the fallback is processing-time
    ``current_timestamp()``: duplicates REPLAYED after a restart, or
    arriving later than the wall-clock watermark gap, pass through — i.e.
    at-most-once duplicate suppression within the processing-time window,
    NOT exactly-once across restarts. Prefer passing ``event_ts``.
    """
    if event_ts is not None:
        # NTZ columns are rejected by withWatermark: cast in place
        s = stream.withColumn("ingest_ts", F.col(event_ts).cast("timestamp"))
    else:
        s = stream.withColumn("ingest_ts", F.current_timestamp())
    s = s.withColumn("h", F.md5(F.col("text").cast("binary")))
    return s.withWatermark("ingest_ts", "1 minute").dropDuplicatesWithinWatermark(["h"])


def streaming_sessions(stream: DataFrame) -> DataFrame:
    """Stateful NATIVE session windows over an event stream: sessions merge
    while the event gap stays within 60 seconds, and a session is emitted
    (append mode) once the 10-second event-time watermark passes its end —
    i.e. the state store holds only open sessions inside the watermark
    horizon. The streaming twin of the batch session_window_native query.

    Watermarks require TIMESTAMP (tz-aware): an NTZ ``ts`` column is
    cast in place (session TZ; wall-clock preserved)."""
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.withWatermark("ts", "10 seconds")
        .groupBy("user_id", F.session_window(F.col("ts"), "60 seconds"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "n_events",
        )
    )


def streaming_packing(stream: DataFrame) -> DataFrame:
    """Stateful streaming sequence packing (the streaming face of
    operators/packing.pack_sequences, PACK_SEQ_LEN-token packs): docs arrive
    per ``source`` shard; GroupState carries the shard's running token
    offset across triggers, so each doc gets the (pack_id, pack_off) the
    batch packer would assign if fed in the same order. ARRIVAL order is the packing order — the streaming
    contract (a live packer cannot sort the future); within a trigger,
    rows are doc_id-sorted for determinism. Feeding doc_id-ordered
    triggers reproduces the batch assignment exactly (parity-tested).
    State per shard is ONE long (the offset cursor) — bounded regardless
    of stream length. The group function only extends the shard's running
    sum; the pack columns are the batch ``_pack_assign`` expressions.
    """
    import numpy as np
    import pandas as pd

    from ..operators.packing import _pack_assign

    @worker_kernel
    def fn(key, pdfs, state):
        (shard,) = key
        off = state.get[0] if state.exists else 0
        # applyInPandasWithState delivers one trigger's group data as
        # MULTIPLE Arrow chunks once it exceeds maxRecordsPerBatch, so the
        # doc_id sort must be global over the trigger, not per-chunk —
        # materialize first, sort once (chunk-boundary parity is tested
        # with maxRecordsPerBatch=16)
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("doc_id")
        n_tok = pdf["n_tok"].to_numpy(dtype=np.int64)
        cum_end = off + np.cumsum(n_tok)
        state.update((off + int(n_tok.sum()),))
        yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(), "source": shard, "n_tok": n_tok,
                            "cum_start": cum_end - n_tok, "cum_end": cum_end})

    return _pack_assign(
        stream.filter(F.col("n_tok") > 0).groupBy("source").applyInPandasWithState(
            fn, "doc_id string, source string, n_tok long, cum_start long, cum_end long",
            "off long", "append", "NoTimeout"
        )
    )


def streaming_hll_native(stream: DataFrame) -> DataFrame:
    """Zero-Python streaming HLL register stream — the streaming CMS move
    (``cms_build`` run on a stream) applied to distinct counting: the
    batch hourly ``hll_sketch`` fold
    (groupBy window+register, MAX rank) is itself an incremental
    aggregation, so run AS the streaming plan it keeps <= 64 register
    rows of JVM HashAggregate state per active window and never leaves
    whole-stage codegen — no Arrow pass, no Python worker, ingest at the
    batch fold's rate. Register rows are bitwise the batch sketch's at
    every stream prefix (register MAX is associative; parity-tested),
    so :func:`~..operators.hll.hll_estimate` over the sink IS the batch
    estimate.

    It emits raw (window_start, reg, M) register rows and scopes state by
    a 2-hour event-time WATERMARK:
    run with outputMode('update') (changed registers per trigger;
    per-key M is monotone, so max-per-key over the sink = final) or
    'append' (final registers once the watermark passes window end).
    Estimator assembly happens downstream, off the ingest path, exactly
    as in the batch tiering. Events with a null key or timestamp are
    dropped, as the batch sketch drops them."""
    from ..operators.hll import WINDOW_SEC, _hash60, _reg_rank_fold

    e = stream.withWatermark("ts", "2 hours").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select(
        F.window(F.col("ts"), f"{WINDOW_SEC} seconds").alias("win"),
        _hash60(F.col("user_id")).alias("h"),
    )
    return _reg_rank_fold(e, "win").select(
        F.unix_timestamp(F.col("win.start")).cast("long").alias("window_start"),
        "reg",
        "M",
    )


def streaming_kmv(stream: DataFrame, state_ttl_sec: int = 6 * 3600) -> DataFrame:
    """Stateful streaming bottom-k (KMV) sketch — the streaming face of
    operators/hll.kmv_sketch, closing the "every mergeable summary has a
    streaming twin" set (HLL r5, CMS r6, KMV r6). GroupState per hourly
    window holds the k = KMV_K smallest DISTINCT 60-bit key hashes — k
    longs, the definitionally bounded state — and each trigger emits the
    refreshed (ks, n_distinct_est) plus the monotone n_events cursor
    (latest row per window = current sketch). The hash projection is the BATCH
    `_kmv_hashed` expression itself (which drops null-key and null-
    timestamp rows before they reach pandas, where a null would arrive as
    a float64 NaN whose int64 cast terminates the query) and the
    estimate is the batch ``_kmv_estimate`` expression on the stream, so
    the final emission per window equals kmv_sketch(same events) BITWISE
    (parity-tested).

    Ingest path (r7, replacing the per-event bisect insert): a stateless
    ``mapInPandas``
    map-side combine reduces each Arrow chunk to its per-window bottom-k
    of DISTINCT hashes (one ``np.unique`` per window — sort, dedup,
    slice k), so the stateful shuffle moves O(chunks x windows) k-length
    partial lists instead of O(events) raw hashes. The GroupState fold
    merges partials by the KMV merge rule itself — bottom-k of a union =
    bottom-k of concatenated bottom-ks — so chunk-at-a-time folding
    equals the event-at-a-time definition exactly (set semantics,
    order-independent).

    State lifecycle: a window's k-list expires state_ttl_sec of
    PROCESSING time after its last event, bounding total state to
    TTL-recent windows on an unbounded stream; events for an expired
    window restart its k-list from empty."""
    import numpy as np
    import pandas as pd

    from ..operators.hll import KMV_K, _kmv_estimate, _kmv_hashed

    k = KMV_K  # the worker-side kernels close over this local
    hashed = _kmv_hashed(stream)

    @worker_kernel
    def partial(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            ws = pdf["window_start"].to_numpy(dtype=np.int64, copy=False)
            h = pdf["h"].to_numpy(dtype=np.int64, copy=False)
            uw, inv = np.unique(ws, return_inverse=True)
            yield pd.DataFrame({
                "window_start": uw,
                "pk": [np.unique(h[inv == i])[:k].tolist()
                       for i in range(len(uw))],
                "cnt": np.bincount(inv, minlength=len(uw)).astype(np.int64),
            })

    part = hashed.mapInPandas(
        partial, "window_start long, pk array<long>, cnt long"
    )

    @worker_kernel
    def fn(fkey, pdfs, state):
        (ws,) = fkey
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ks = np.asarray(state.get[0], dtype=np.int64)
            n = state.get[1]
        else:
            ks, n = np.empty(0, dtype=np.int64), 0
        fresh = []
        for pdf in pdfs:
            n += int(pdf["cnt"].sum())
            for pk in pdf["pk"]:
                fresh.append(np.asarray(pk, dtype=np.int64))
        if fresh:
            ks = np.unique(np.concatenate([ks, *fresh]))[:k]
        state.update((ks.tolist(), n))
        state.setTimeoutDuration(state_ttl_sec * 1000)
        yield pd.DataFrame([(ws, n, ks.tolist())], columns=["window_start", "n_events", "ks"])

    sketch = part.groupBy("window_start").applyInPandasWithState(
        fn,
        "window_start long, n_events long, ks array<long>",
        "ks array<long>, n long",
        "append",
        "ProcessingTimeTimeout",
    )
    return _kmv_estimate(sketch, k)
