"""Rollup-engine benchmark: one workload per invocation, one JSON line.

    python3 perfbench/run.py --workload retention_job --seed 1 --seconds 10 --trace 0

Workloads: retention_job, query_mix (see workloads.py).
Spark runs at local[nproc] in this process; the load loop is closed
(one operation at a time). An invocation:

1. sets up three times (fresh session + inputs made from the seed and
   materialized to parquet + a first read) and reports the median as
   ``setup_s``;
2. checks the engine's outputs untimed (this also warms the session);
3. runs timed passes for ``--seconds`` (at least two) and checks the
   last pass's outputs;
4. with ``--trace 1``, restarts the session with the event log on, runs
   the traced passes with a span and a job group around each call into a
   layer, folds the event log into per-layer rows and reports the
   per-layer metrics instead of the end-to-end ones.

The full record (every operation with attempted/failed counts and every
sample, machine context, metric aliases, span rows) goes to
``.bench_out/<workload>/``. The last stdout line is the result.
"""

from __future__ import annotations

import argparse
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# Run-to-run spread comes from the host (runs are slower as more CPU time is
# stolen), not from the passes of one run, so two passes after the warm-up
# are enough; more would not fit 48 runs into the time a comparison has.
MIN_PASSES = 2
SMOKE_TOKENS = 250_000
ENGINE_FILES = ("crossai_ts_spark/__init__.py", "jobs/rollup_job.py", "__spark_entry__.py", "tools/check_oracle.py")

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s"}
PER_LAYER = {
    "sources.scan_s": "s",
    "sources.records_read": "count",
    "python.kernel_s": "s",
    "python.arrow_bytes": "bytes",
    "spark.task_run_s": "s",
    "shuffle.bytes": "bytes",
    "spark.jobs": "count",
    "session.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["retention_job", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def spark_conf(out: str) -> dict[str, str]:
    """Keep every file Spark writes inside the output directory."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    return {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(out, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={out}",
        "spark.ui.showConsoleProgress": "false",
    }


def measure(ctx, wl, ops, seconds: int, span=None) -> tuple[list[float], list[list[float]]]:
    """Closed loop: passes back to back until ``seconds`` have elapsed and
    at least ``MIN_PASSES`` passes have run."""
    from record import load1

    walls, loads = [], []
    t_end = time.perf_counter() + seconds
    while len(walls) < MIN_PASSES or time.perf_counter() < t_end:
        before = load1()
        if span is None:
            w = wl.run_pass(ctx, ops)
        else:
            with span("pass", "workload"):
                w = wl.run_pass(ctx, ops)
        loads.append([before, load1()])
        if w is None:
            break
        walls.append(w)
    return walls, loads


def spark_submit_smoke(out: str, seed: int) -> dict:
    """``spark-submit --py-files`` of jobs/rollup_job.py on a small input."""
    import pyspark

    from workloads import seq_docs, write_sequences

    submit = shutil.which("spark-submit") or os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    smoke = os.path.join(out, "work", "smoke")
    os.makedirs(smoke, exist_ok=True)
    engine = shutil.make_archive(os.path.join(smoke, "engine"), "zip", ROOT, "crossai_ts_spark")
    job_in, job_out = os.path.join(smoke, "input"), os.path.join(smoke, "out")
    write_sequences(seq_docs(seed, SMOKE_TOKENS), job_in, n_files=1)
    tmp = os.environ["TMPDIR"]
    cmd = [
        submit, "--master", "local[2]", "--driver-memory", "1g",
        "--conf", "spark.ui.enabled=false",
        "--conf", f"spark.local.dir={os.environ['SPARK_LOCAL_DIRS']}",
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        "--py-files", engine, os.path.join(ROOT, "jobs", "rollup_job.py"),
        "--input", job_in, "--out", job_out, "--buckets", "2", "--compress",
    ]
    t0 = time.perf_counter()
    try:
        r = subprocess.run(cmd, cwd=smoke, capture_output=True, text=True, timeout=120)
        rc, err = r.returncode, r.stderr[-2000:]
    except subprocess.TimeoutExpired:
        rc, err = None, "timed out"
    wall = time.perf_counter() - t0
    manifests = sorted(os.listdir(os.path.join(job_out, "_manifests"))) if os.path.isdir(
        os.path.join(job_out, "_manifests")) else []
    ok = rc == 0 and manifests == ["0.json", "1.json"]
    return {"ok": ok, "returncode": rc, "wall_s": wall, "manifests": manifests, **({} if ok else {"stderr": err})}


def stop_jvm() -> None:
    """End the py4j gateway JVM and wait for it: it exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)  # noqa: SLF001
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def traced_run(ctx, wl, session, untraced: list[float]) -> tuple[dict, dict, list[str]]:
    """Restart with the event log on, run traced passes, fold the log.

    Returns (per-layer metrics, record fields, problems)."""
    from record import OpLog, median, write_record
    from tracing import Tracer, event_log_conf, fold_event_log
    from workloads import dominant_layer, merged, tree_peak_rss_mb

    log_dir = os.path.join(ctx.out, "eventlog")
    ctx.spark.stop()
    ctx.spark = session(event_log_conf(log_dir))
    tracer = Tracer(ctx.spark, enabled=True)
    ctx.tracer = tracer
    wl.trace_begin(tracer)
    ops = OpLog()
    passes, loads = measure(ctx, wl, ops, ctx.seconds, span=tracer.span)
    tracer.enabled = False
    tracer.unwrap()
    measured = list(tracer.spans)
    extra, problems, finish = wl.traced_extra(ctx, tracer, ops) if hasattr(wl, "traced_extra") else ({}, [], None)
    rss = tree_peak_rss_mb(os.getpid())
    ctx.spark.stop()  # flushes the event log
    ctx.spark = None
    if not passes:
        return {}, {"traced_operations": ops.ops}, problems + ["no traced pass completed"]

    fold = fold_event_log(log_dir)
    n = len(passes)
    m = merged(fold, measured)
    jobs = sum(len(fold.get(g, {}).get("jobs", [])) for s in measured
               for g in [s["group"], *s["extra_groups"]])
    per_layer = {
        "sources.scan_s": m.get("scan_s", 0) / n,
        "sources.records_read": m.get("records_read", 0) / n,
        "python.kernel_s": m.get("python_s", 0) / n,
        "python.arrow_bytes": (m.get("arrow_sent_bytes", 0) + m.get("arrow_returned_bytes", 0)) / n,
        "spark.task_run_s": m.get("run_s", 0) / n,
        "shuffle.bytes": m.get("shuffle_bytes", 0) / n,
        "spark.jobs": jobs / n,
        "session.peak_rss_mb": rss,
        "trace.overhead_ratio": median(passes) / median(untraced),
    }
    layers = {**wl.layers(measured, fold, n), **extra}
    if finish is not None:
        layers.update(finish(tracer.spans[len(measured):], fold))
    rows = []
    for s in tracer.spans:
        row = {k: v for k, v in s.items() if k not in ("start", "end")}
        row["metrics"] = merged(fold, [s])
        row["dominant"] = dominant_layer(row["metrics"])
        rows.append(row)
    write_record(os.path.join(ctx.out, f"layers_seed{ctx.seed}.json"), {"spans": rows, "layers": layers})
    fields = {"per_layer": per_layer, "layers": layers, "traced_pass_walls_s": passes,
              "traced_pass_load1_before_after": loads, "traced_operations": ops.ops,
              "dominant_layer": getattr(wl, "dominant", None)}
    return per_layer, fields, problems


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in ENGINE_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found next to the benchmark: {missing}", file=sys.stderr)
        return 2
    out = os.path.join(ROOT, ".bench_out", args.workload)
    for d in ("work", "eventlog", "tmp", "spark-local"):  # left by an interrupted run
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    conf = spark_conf(out)
    sys.path[:0] = [ROOT, HERE]

    from crossai_ts_spark.session import get_spark
    from record import OpLog, load1, machine, median, result_line, write_record
    from tracing import Tracer
    from workloads import WORKLOADS, Ctx, log

    def session(extra=None):
        return get_spark(app_name=f"perfbench-{args.workload}", extra_conf={**conf, **(extra or {})})

    wl = WORKLOADS[args.workload]()
    ctx = Ctx(out, args.seed, args.seconds)
    ctx.tracer = Tracer()
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "machine_start": machine()}
    phases = record["phases_s"] = {}
    clock = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    setup_walls = []
    for rep in range(SETUP_REPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = session()
        wl.setup(ctx, rep)
        setup_walls.append(time.perf_counter() - t0)
    for rep in range(SETUP_REPS - 1):  # only the last set of inputs is used
        for d in ("input", "tables"):
            shutil.rmtree(ctx.work(f"{d}{rep}"), ignore_errors=True)
    record["setup_walls_s"] = setup_walls
    record["input"] = wl.input_info()
    log(f"setup {setup_walls} input {record['input']}")
    phase("setup")

    problems = wl.check(ctx)  # untimed; also the warm-up pass
    phase("check")
    ops = OpLog()
    passes, loads = measure(ctx, wl, ops, args.seconds)
    phase("measure")
    record.update({"pass_walls_s": passes, "pass_load1_before_after": loads, "operations": ops.ops})
    metrics: dict[str, tuple[float, str]] = {}
    if not passes:
        problems.append("no timed pass completed")
    else:
        problems += wl.check_after(ctx)
        phase("check_after")
        e2e = {"setup_s": median(setup_walls), **wl.end_to_end(ops, passes)}
        record.update({"end_to_end": e2e, "aliases": wl.aliases(ops, passes)})
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
        if args.trace:
            per_layer, fields, traced_problems = traced_run(ctx, wl, session, passes)
            record.update(fields)
            problems += traced_problems
            metrics = {k: (per_layer[k], u) for k, u in PER_LAYER.items()} if per_layer else {}
            for name, op in fields["traced_operations"].items():
                ops.ops[f"traced.{name}"] = op
            phase("trace")

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    stop_jvm()
    if args.workload == "retention_job" and args.trace:
        smoke = spark_submit_smoke(out, args.seed)
        record["spark_submit_smoke"] = smoke
        if not smoke["ok"]:
            problems.append(f"spark-submit smoke failed: {smoke}")
        phase("spark_submit_smoke")
    failed = ops.totals()[1]
    if failed:
        problems.append(f"{failed} operations failed")
    record.update({"machine_end": machine(), "problems": problems})
    t0, t1 = record["machine_start"]["cpu_ticks"], record["machine_end"]["cpu_ticks"]
    record["cpu_steal_share"] = (t1["steal"] - t0["steal"]) / max(1, t1["total"] - t0["total"])
    correct = not problems and bool(metrics)
    record["correct"] = correct
    write_record(os.path.join(out, f"record_seed{args.seed}_trace{args.trace}.json"), record)
    shutil.rmtree(os.path.join(out, "work"), ignore_errors=True)

    for p in problems:
        log(f"CHECK FAILED: {p}")
    for k, (v, u) in metrics.items():
        print(f"{args.workload} {k} = {v:.6g} {u}")
    for k, v in sorted({**record.get("aliases", {}), **record.get("layers", {})}.items()):
        print(f"{args.workload} {k} = {v:.6g}")
    print(result_line(correct, ops, metrics), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
