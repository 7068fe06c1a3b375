"""The workloads: retention job and query mix, plus the streaming tier-1
drain that the traced retention job run measures.

Each workload makes its inputs from the seed (``setup``), checks the
engine's outputs untimed (``check``, plus ``check_after`` for outputs of
the timed passes), runs one timed pass at a time (``run_pass``) and turns
the samples into end-to-end metrics (``end_to_end``) and, in the traced
run, into per-layer rows (``layers``). The load loop is closed: one
operation at a time, from one process.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from record import OpLog, geomean, median, summary

W, FANOUT, TIERS = 64, 64, 3
WIDTHS = [W * FANOUT ** k for k in range(TIERS)]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# datagen's doc-length classes (n_tok < 2048, < 16384, longer) and the
# expected share of all tokens each class holds under its 80/15/5 mixture
LENGTH_EDGES = [2048, 16384]
TOKEN_SHARES = [0.198, 0.323, 0.479]


def seq_docs(seed: int, budget: int):
    """Synthetic sequences (datagen's generator) holding ``budget`` tokens.

    Per length class, takes the doc-id-ordered docs whose tokens fit the
    class's share of the budget, so that every seed gives the same tokens
    and about the same docs (within a few percent) in the same mixture."""
    from crossai_ts_spark.datagen import gen_local

    pool = gen_local(seed=seed, n_docs=int(2.5 * budget / 4275) + 50)
    n_tok = pool["n_tok"].to_numpy(np.int64)
    cls = np.digitize(n_tok, LENGTH_EDGES)
    keep = np.zeros(len(pool), dtype=bool)
    for c, share in enumerate(TOKEN_SHARES):
        idx = np.nonzero(cls == c)[0]
        keep[idx[:np.searchsorted(np.cumsum(n_tok[idx]), share * budget, side="right")]] = True
    return pool[keep].reset_index(drop=True)


def expected_tiers(n_tok: np.ndarray) -> dict[str, int]:
    """Closed-form rows per tier: sum over docs of ceil(n_tok / width_k)."""
    n = n_tok.astype(np.int64)
    return {str(k + 1): int((-(-n // w)).sum()) for k, w in enumerate(WIDTHS)}


def write_sequences(pdf, out_dir: str, n_files: int) -> None:
    """Sequences table as ``n_files`` parquet files, docs dealt round-robin."""
    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema([
        ("doc_id", pa.string()), ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()), ("source", pa.string()),
    ])
    for j in range(n_files):
        part = pdf.iloc[j::n_files]
        tbl = pa.table({
            "doc_id": part["doc_id"].tolist(),
            "tokens": pa.array([a for a in part["tokens"]], pa.list_(pa.int32())),
            "n_tok": part["n_tok"].to_numpy(np.int32),
            "source": part["source"].tolist(),
        }, schema=schema)
        pq.write_table(tbl, os.path.join(out_dir, f"part-{j:03d}.parquet"))


class Ctx:
    """Run state shared by the load loop and the workload."""

    def __init__(self, out: str, seed: int, seconds: int) -> None:
        self.out, self.seed, self.seconds = out, seed, seconds
        self.spark = None
        self.tracer = None

    def work(self, name: str) -> str:
        return os.path.join(self.out, "work", name)


class RetentionJob:
    """``jobs/rollup_job.main`` on a materialized synthetic input, 8 buckets,
    compressed tiers, in the warm session."""

    name = "retention_job"
    TOKENS = 4_000_000
    BUCKETS = 8

    def setup(self, ctx: Ctx, rep: int) -> None:
        pdf = seq_docs(ctx.seed, self.TOKENS)
        self.input = ctx.work(f"input{rep}")
        write_sequences(pdf, self.input, n_files=2 * ctx.spark.sparkContext.defaultParallelism)
        n_tok = pdf["n_tok"].to_numpy(np.int64)
        self.docs, self.tokens = len(pdf), int(n_tok.sum())
        self.expect = expected_tiers(n_tok)
        got = ctx.spark.read.parquet(self.input).selectExpr("count(*) n", "sum(n_tok) t").first()
        if (got.n, got.t) != (self.docs, self.tokens):
            raise RuntimeError(f"input read back {(got.n, got.t)} != {(self.docs, self.tokens)}")
        self.passes = 0
        self.last_out = None

    def _job(self, out: str) -> float:
        import jobs.rollup_job as rollup_job

        t0 = time.perf_counter()
        with contextlib.redirect_stdout(sys.stderr):
            rc = rollup_job.main(["--input", self.input, "--out", out, "--buckets", str(self.BUCKETS), "--compress"])
        wall = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"rollup_job exited {rc}")
        return wall

    def check(self, ctx: Ctx) -> list[str]:
        """Warm-up pass only: the job's outputs are checked after the timed passes."""
        return [] if self.run_pass(ctx, OpLog()) is not None else ["warm-up job failed"]

    def run_pass(self, ctx: Ctx, ops: OpLog) -> float | None:
        out = ctx.work(f"out{self.passes}")
        self.passes += 1
        try:
            wall = self._job(out)
        except Exception:  # noqa: BLE001 - counted as a failed operation
            log(traceback.format_exc())
            ops.add("job", None, ok=False)
            return None
        if self.last_out is not None:  # keep only the latest good output, for check_after
            shutil.rmtree(self.last_out, ignore_errors=True)
        ops.add("job", wall)
        for b in range(self.BUCKETS):
            path = os.path.join(out, "_manifests", f"{b}.json")
            if os.path.exists(path):
                with open(path) as f:
                    ops.add("bucket_commit", json.load(f)["wall_sec"])
            else:
                ops.add("bucket_commit", None, ok=False)
        self.last_out = out
        return wall

    def check_after(self, ctx: Ctx) -> list[str]:
        from pyspark.sql import functions as F

        from crossai_ts_spark.functions.codecs import decompress_tiers

        problems = []
        out = self.last_out
        rows = {k: 0 for k in self.expect}
        toks = {k: 0 for k in self.expect}
        for b in range(self.BUCKETS):
            with open(os.path.join(out, "_manifests", f"{b}.json")) as f:
                for k, t in json.load(f)["tiers"].items():
                    rows[k] += t["rows"]
                    toks[k] += t["tokens"]
        if rows != self.expect:
            problems.append(f"manifest rows per tier {rows} != closed form {self.expect}")
        if any(v != self.tokens for v in toks.values()):
            problems.append(f"manifest tokens per tier {toks} != {self.tokens}")
        spark = ctx.spark
        segs = spark.read.parquet(os.path.join(out, "compressed"))
        seg = segs.select(F.count("*").alias("n"), F.sum("n_points").alias("pts"),
                          F.sum(F.length("ts_blob") + F.length("val_blob")).alias("bytes")).first()
        n_seg = seg.n
        if n_seg != TIERS * self.docs:
            problems.append(f"segments {n_seg} != {TIERS} x {self.docs} docs")
        sample = segs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(16)) == ctx.seed % 16)
        dec = decompress_tiers(sample).toPandas()
        ids = dec["doc_id"].unique().tolist()
        data = (spark.read.parquet(os.path.join(out, "data"))
                .filter(F.col("doc_id").isin(ids))
                .select("doc_id", "tier", "window_start", "t_mean").toPandas())
        key = ["doc_id", "tier", "window_start"]
        both = dec.merge(data, on=key, how="outer", indicator=True)
        if len(dec) == 0 or (both["_merge"] != "both").any() or len(both) != len(dec):
            problems.append(f"decoded sample rows {len(dec)} do not match tier rows {len(data)}")
        elif not (both["value"].to_numpy().view(np.int64) == both["t_mean"].to_numpy().view(np.int64)).all():
            problems.append("decoded t_mean is not bitwise equal to the tier table")
        self.checked = {"segments": n_seg, "decoded_points": len(dec), "rows": rows,
                        "bytes_per_point": seg.bytes / seg.pts}
        return problems

    def end_to_end(self, ops: OpLog, passes: list[float]) -> dict:
        return {"pass_s": median(passes), "op_geomean_s": geomean(ops.walls("bucket_commit"))}

    def aliases(self, ops: OpLog, passes: list[float]) -> dict:
        b = summary(ops.walls("bucket_commit"))
        out = {"job_tokens_per_s": self.tokens / median(passes), "bucket_p50_s": b["median"]}
        if "p90" in b:
            out["bucket_p90_s"] = b["p90"]
        return out

    def input_info(self) -> dict:
        return {"docs": self.docs, "tokens": self.tokens, "buckets": self.BUCKETS,
                "expected_rows_per_tier": self.expect}

    # --- traced run
    def trace_begin(self, tracer) -> None:
        import crossai_ts_spark.plans.checkpoint as checkpoint
        import crossai_ts_spark.sources.io as io

        tracer.wrap(checkpoint, "commit_bucket", "checkpoint")
        tracer.wrap(io, "write_table", "codecs")

    def layers(self, spans: list[dict], fold: dict, passes: int) -> dict:
        write, manifest, codec, n_commit = [], [], [], 0
        jobs_per_commit = []
        for s in spans:
            jobs = fold.get(s["group"], {}).get("jobs", [])
            if s["layer"] == "checkpoint":
                n_commit += 1
                jobs_per_commit.append(len(jobs))
                for j in jobs:
                    (write if "InsertIntoHadoopFsRelationCommand" in j["plan"] else manifest).append(j)
            elif s["layer"] == "codecs":
                codec.extend(jobs)

        def tot(jobs, key):
            return sum(j["metrics"].get(key, 0) for j in jobs)

        p = max(1, passes)
        return {
            "sources.scan_passes": tot(write, "records_read") / p / self.docs,
            "rollup.kernel_s": tot(write, "python_s") / p,
            "rollup.arrow_bytes": (tot(write, "arrow_sent_bytes") + tot(write, "arrow_returned_bytes")) / p,
            **{f"rollup.rows_out.t{k}": v for k, v in self.checked["rows"].items()},
            "checkpoint.write_s": sum(j.get("wall_s", 0) for j in write) / p,
            "checkpoint.manifest_s": sum(j.get("wall_s", 0) for j in manifest) / p,
            "checkpoint.jobs_per_bucket": (sum(jobs_per_commit) / n_commit) if n_commit else 0,
            "checkpoint.bytes_written": tot(write, "bytes_written") / p,
            "codecs.encode_s": tot(codec, "python_s") / p,
            "codecs.shuffle_bytes": tot(codec, "shuffle_bytes") / p,
            "codecs.segments": self.checked["segments"],
            "codecs.bytes_per_point": self.checked["bytes_per_point"],
        }

    def traced_extra(self, ctx: Ctx, tracer, ops: OpLog):
        """After the traced passes: bench.py's headline (3-tier cascade
        tokens/s) on this input, and the streaming tier-1 drain, checked
        and traced, so the streaming layer is measured here too.

        Returns (values, problems, finish) where finish(spans, fold) gives
        the streaming layer's event-log figures."""
        from crossai_ts_spark.operators.rollup import cascade

        seqs = ctx.spark.read.parquet(self.input)
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            cascade(seqs, strategy="pandas", w=W, fanout=FANOUT, tiers=TIERS).groupBy("tier").count().collect()
            walls.append(time.perf_counter() - t0)
        values = {"rollup.tokens_per_s": self.tokens / median(walls)}

        stream = StreamTier1()
        stream.setup(ctx)
        stream_ops = OpLog()
        tracer.enabled = True
        drain = stream.drain(ctx, stream_ops)
        tracer.enabled = False
        if drain is None:
            problems = ["stream drain failed"]
        else:
            problems = stream.check(ctx)
            values.update(stream.aliases(stream_ops, [drain]))
        for name, op in stream_ops.ops.items():
            ops.ops[f"stream_tier1.{name}"] = op
        return values, problems, lambda spans, fold: stream.layers(spans, fold, 1)


class QueryMix:
    """Registered headline queries, noop sink, tracked caches released
    between queries; query order shuffled per pass from the seed."""

    name = "query_mix"
    QUERIES = [
        "rollup_tier1", "codec_roundtrip", "tpch_q3_exact", "event_classification", "sessionization",
    ]

    def setup(self, ctx: Ctx, rep: int) -> None:
        from tables import write_tables

        self.dir = ctx.work(f"tables{rep}")
        self.rows = write_tables(self.dir, ctx.seed)
        n = ctx.spark.read.parquet(f"{self.dir}/lineitem.parquet").count()
        if n != self.rows["lineitem"]:
            raise RuntimeError(f"lineitem read back {n} != {self.rows['lineitem']}")
        self.rng = np.random.default_rng([ctx.seed, 11])
        self.persist_calls: dict = {}
        self.cache_peak: dict[str, int] = {}

    def check(self, ctx: Ctx) -> list[str]:
        """Each query's order-insensitive hash against its DuckDB oracle."""
        import duckdb

        import __spark_entry__ as entry
        from crossai_ts_spark.caching import release_tracked
        from tools.check_oracle import TABLES, canon_hash, normalize

        qs, sql = entry.queries(), entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            problems = []
            for name in self.QUERIES:
                got = normalize(qs[name](ctx.spark, self.dir).toPandas())
                release_tracked()
                exp = normalize(con.execute(sql[name]).fetchdf())
                if len(got) != len(exp) or sorted(got.columns) != sorted(exp.columns) \
                        or canon_hash(got) != canon_hash(exp):
                    problems.append(f"{name}: spark {len(got)} rows != oracle {len(exp)} rows or hash differs")
        finally:
            con.close()
        return problems

    def run_pass(self, ctx: Ctx, ops: OpLog) -> float | None:
        import __spark_entry__ as entry
        from crossai_ts_spark.caching import release_tracked

        qs = entry.queries()
        tracer = ctx.tracer
        total = 0.0
        for name in self.rng.permutation(self.QUERIES):
            with tracer.span(f"query.{name}", "query"):
                t0 = time.perf_counter()
                try:
                    qs[name](ctx.spark, self.dir).write.format("noop").mode("overwrite").save()
                except Exception:  # noqa: BLE001 - counted as a failed operation
                    log(traceback.format_exc())
                    ops.add(f"query.{name}", None, ok=False)
                    release_tracked()
                    return None
                wall = time.perf_counter() - t0
                if tracer.enabled:
                    self.cache_peak[name] = max(self.cache_peak.get(name, 0), cached_bytes(ctx.spark))
                release_tracked()
            ops.add(f"query.{name}", wall)
            total += wall
        return total

    def check_after(self, ctx: Ctx) -> list[str]:
        return []

    def _per_query(self, ops: OpLog) -> dict[str, float]:
        return {q: median(ops.walls(f"query.{q}")) for q in self.QUERIES if ops.walls(f"query.{q}")}

    def end_to_end(self, ops: OpLog, passes: list[float]) -> dict:
        return {"pass_s": median(passes), "op_geomean_s": geomean(list(self._per_query(ops).values()))}

    def aliases(self, ops: OpLog, passes: list[float]) -> dict:
        e2e = self.end_to_end(ops, passes)
        return {"mix_wall_s": e2e["pass_s"], "query_geomean_s": e2e["op_geomean_s"]}

    def input_info(self) -> dict:
        return {"queries": self.QUERIES, "table_rows": self.rows}

    def trace_begin(self, tracer) -> None:
        import crossai_ts_spark.caching as caching

        tracer.count_calls(caching, "tracked_persist", self.persist_calls)

    def layers(self, spans: list[dict], fold: dict, passes: int) -> dict:
        out: dict = {}
        by_q: dict[str, list[dict]] = {}
        for s in spans:
            if s["layer"] == "query":
                by_q.setdefault(s["name"], []).append(s)
        totals = {k: 0.0 for k in ("python_s", "scan_s", "shuffle_bytes", "fetch_wait_s", "spill")}
        dominant = {}
        for name, ss in sorted(by_q.items()):
            out[f"{name}.wall_s"] = median([s["wall_s"] for s in ss])
            m = merged(fold, ss)
            for k in ("python_s", "scan_s", "shuffle_bytes", "fetch_wait_s"):
                totals[k] += m.get(k, 0)
            totals["spill"] += m.get("spill_mem_bytes", 0) + m.get("spill_disk_bytes", 0) + m.get("spill_bytes", 0)
            dominant[name] = dominant_layer(m)
        p = max(1, passes)
        out.update({
            "query.python_s": totals["python_s"] / p,
            "query.scan_s": totals["scan_s"] / p,
            "query.shuffle_bytes": totals["shuffle_bytes"] / p,
            "query.fetch_wait_s": totals["fetch_wait_s"] / p,
            "query.spill_bytes": totals["spill"] / p,
            "caching.persists": self.persist_calls.get("tracked_persist", 0) / p,
            "caching.peak_bytes": max(self.cache_peak.values(), default=0),
        })
        self.dominant = dominant
        return out


class StreamTier1:
    """A backlog of 4096-token chunks in files ordered by chunk index (file
    f holds chunk indexes 4f..4f+3 of every doc), drained one file per
    trigger through ``incremental_tier1`` with ``processAllAvailable`` into
    a memory sink, whose rows are then checked.

    Not a workload of its own: the traced retention job run drains it once
    (``RetentionJob.traced_extra``)."""

    TOKENS = 2_000_000
    CHUNK = 4096
    LEVELS_PER_FILE = 4
    SCHEMA = "doc_id string, chunk_idx long, tokens array<int>, is_last boolean, source string"
    SINK = "perfbench_tier1"

    def setup(self, ctx: Ctx) -> None:
        pdf = seq_docs(ctx.seed, self.TOKENS)
        self.dir = ctx.work("chunks")
        os.makedirs(self.dir, exist_ok=True)
        levels: dict[int, list] = {}
        for doc_id, toks, source in zip(pdf["doc_id"], pdf["tokens"], pdf["source"]):
            n = len(toks)
            for k, s in enumerate(range(0, n, self.CHUNK)):
                levels.setdefault(k // self.LEVELS_PER_FILE, []).append(
                    (doc_id, k, toks[s:s + self.CHUNK], s + self.CHUNK >= n, source))
        base = time.time() - 10 * len(levels)
        for k, rows in sorted(levels.items()):
            path = os.path.join(self.dir, f"c{k:03d}.parquet")
            pq.write_table(pa.table({
                "doc_id": [r[0] for r in rows],
                "chunk_idx": pa.array([r[1] for r in rows], pa.int64()),
                "tokens": pa.array([r[2] for r in rows], pa.list_(pa.int32())),
                "is_last": [r[3] for r in rows],
                "source": [r[4] for r in rows],
            }), path)
            os.utime(path, (base + 10 * k, base + 10 * k))  # file source reads oldest first
        n_tok = pdf["n_tok"].to_numpy(np.int64)
        self.tokens = int(n_tok.sum())
        self.expect_rows = expected_tiers(n_tok)["1"]
        got = ctx.spark.read.parquet(self.dir).selectExpr("count(*) n").first().n
        if got != sum(len(r) for r in levels.values()):
            raise RuntimeError(f"chunk files read back {got} rows")
        self.progress: list[dict] = []

    def drain(self, ctx: Ctx, ops: OpLog) -> float | None:
        from crossai_ts_spark.streaming.rollup_stream import incremental_tier1

        with ctx.tracer.span("stream.drain", "streaming") as span:
            t0 = time.perf_counter()
            try:
                stream = (ctx.spark.readStream.schema(self.SCHEMA)
                          .option("maxFilesPerTrigger", 1).parquet(self.dir))
                q = (incremental_tier1(stream, w=W).writeStream.outputMode("append")
                     .format("memory").queryName(self.SINK)
                     .option("checkpointLocation", ctx.work("ckpt")).start())
                if span is not None:
                    span["extra_groups"].append(str(q.runId))
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
            except Exception:  # noqa: BLE001 - counted as a failed operation
                log(traceback.format_exc())
                ops.add("drain", None, ok=False)
                return None
            wall = time.perf_counter() - t0
        ops.add("drain", wall)
        for p in q.recentProgress:
            if p.get("numInputRows", 0) > 0:
                ops.add("trigger", p["durationMs"]["triggerExecution"] / 1e3)
                self.progress.append(p)
        return wall

    def check(self, ctx: Ctx) -> list[str]:
        """Sink rows and sum(t_cnt) of the drain against the closed form."""
        got = ctx.spark.sql(f"SELECT count(*) n, sum(t_cnt) c FROM {self.SINK}").first()
        ctx.spark.catalog.dropTempView(self.SINK)
        if (got.n, got.c) != (self.expect_rows, self.tokens):
            return [f"sink rows/sum(t_cnt) {(got.n, got.c)} != closed form {(self.expect_rows, self.tokens)}"]
        return []

    def aliases(self, ops: OpLog, passes: list[float]) -> dict:
        t = summary(ops.walls("trigger"))
        out = {"stream_tokens_per_s": self.tokens / median(passes), "trigger_p50_s": t["median"]}
        if "p90" in t:
            out["trigger_p90_s"] = t["p90"]
        return out

    def layers(self, spans: list[dict], fold: dict, passes: int) -> dict:
        m = merged(fold, [s for s in spans if s["layer"] == "streaming"])
        state = [op for p in self.progress for op in p.get("stateOperators", [])]
        rates = [p["processedRowsPerSecond"] for p in self.progress if p.get("processedRowsPerSecond")]
        p = max(1, passes)
        return {
            "streaming.python_s": m.get("python_s", 0) / p,
            "streaming.state_rows": max((s.get("numRowsTotal", 0) for s in state), default=0),
            "streaming.state_bytes": max((s.get("memoryUsedBytes", 0) for s in state), default=0),
            "streaming.input_rows_per_s": median(rates) if rates else 0.0,
        }


WORKLOADS = {w.name: w for w in (RetentionJob, QueryMix)}


def merged(fold: dict, spans: list[dict]) -> dict:
    """Sum the folded metrics of every job group the spans own."""
    out: dict = {}
    for s in spans:
        for g in [s["group"], *s.get("extra_groups", [])]:
            for k, v in fold.get(g, {}).items():
                if k != "jobs":
                    out[k] = out.get(k, 0) + v
    return out


def dominant_layer(m: dict) -> str:
    """The Spark-side layer with the most busy time in a span's jobs."""
    scan, py = m.get("scan_s", 0), m.get("python_s", 0)
    shuffle = m.get("shuffle_write_s", 0) + m.get("fetch_wait_s", 0)
    jvm = max(0.0, m.get("run_s", 0) - scan - py - shuffle)
    parts = {"scan": scan, "python": py, "shuffle": shuffle, "jvm": jvm}
    return max(parts, key=parts.get)


def cached_bytes(spark) -> int:
    """Memory + disk bytes of every persisted RDD, from the storage info."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of peak RSS (VmHWM) over a process and all its descendants."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
        except (OSError, IndexError, ValueError):
            continue
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0

