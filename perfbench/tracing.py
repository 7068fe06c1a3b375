"""Spans around calls into the engine's layers, and the event-log fold.

A span is a named interval with a layer and a parent; each span owns a
Spark job group, so every Spark job the calls inside it run is tagged
with the span. After the traced run the event log is folded: each stage's
SQL metrics (scan time, Python-worker time, Arrow bytes, shuffle, spill)
and task metrics are summed into the span whose job group ran it. The
engine is not edited: spans sit in the benchmark, either around its own
calls or around the engine's public functions by wrapping the module
attribute for the length of the traced run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time

# task metrics kept per span (stage accumulables named internal.metrics.*)
TASK_METRICS = {
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.input.recordsRead": ("records_read", 1),
    "internal.metrics.input.bytesRead": ("bytes_read", 1),
    "internal.metrics.output.bytesWritten": ("bytes_written", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1),
    "internal.metrics.shuffle.write.writeTime": ("shuffle_write_s", 1e-9),
    "internal.metrics.shuffle.read.fetchWaitTime": ("fetch_wait_s", 1e-3),
    "internal.metrics.memoryBytesSpilled": ("spill_mem_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_disk_bytes", 1),
}
# SQL metrics kept per span, by the name Spark gives them
SQL_METRICS = {
    "scan time": "scan_s",
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "arrow_sent_bytes",
    "data returned from Python workers": "arrow_returned_bytes",
    "time in aggregation build": "agg_build_s",
    "sort time": "sort_s",
    "spill size": "spill_bytes",
}
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


class Tracer:
    """Records spans; a disabled tracer is a no-op that sets no job groups."""

    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.enabled = enabled and spark is not None
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "layer": layer,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{len(self.spans)}", "extra_groups": [],
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module, attr: str, layer: str) -> None:
        """Replace ``module.attr`` by a wrapper that runs it inside a span."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(attr, layer):
                return fn(*a, **kw)

        setattr(module, attr, traced)
        self._undo.append((module, attr, fn))

    def count_calls(self, module, attr: str, counter: dict) -> None:
        """Count calls of ``module.attr`` into ``counter[attr]``."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def counted(*a, **kw):
            counter[attr] = counter.get(attr, 0) + 1
            return fn(*a, **kw)

        setattr(module, attr, counted)
        self._undo.append((module, attr, fn))

    def unwrap(self) -> None:
        while self._undo:
            module, attr, fn = self._undo.pop()
            setattr(module, attr, fn)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
    }


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m["metricType"], node.get("nodeName", ""))
    for c in node.get("children", []):
        _plan_metrics(c, out)


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Sum stage metrics per job group: {group: {metric: value, "jobs": [...]}}.

    Each job carries its wall, the head of its SQL plan description and
    the stage metrics it ran, so a caller can classify jobs inside a span.
    """
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    acc_info: dict[int, tuple[str, str, str]] = {}
    job_group: dict[int, str] = {}
    job_exec: dict[int, int | None] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    exec_desc: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"].rsplit(".", 1)[-1]
                if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metrics(ev["sparkPlanInfo"], acc_info)
                    if kind == "SparkListenerSQLExecutionStart":
                        exec_desc[ev["executionId"]] = ev.get("physicalPlanDescription", "")[:400]
                elif kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    job_group[jid] = props.get("spark.jobGroup.id")
                    eid = props.get("spark.sql.execution.id")
                    job_exec[jid] = int(eid) if eid is not None else None
                    job_start[jid] = ev["Submission Time"] / 1e3
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                    jobs[jid] = {"job": jid, "metrics": {}}
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in jobs:
                        jobs[jid]["wall_s"] = ev["Completion Time"] / 1e3 - job_start[jid]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    jid = stage_job.get(info["Stage ID"])
                    if jid is None:
                        continue
                    m = jobs[jid]["metrics"]
                    for a in info.get("Accumulables", []):
                        _fold_accumulable(a, acc_info, m)
    out: dict[str, dict] = {}
    for jid, job in sorted(jobs.items()):
        g = job_group.get(jid)
        if g is None:
            continue
        eid = job_exec.get(jid)
        job["plan"] = exec_desc.get(eid, "") if eid is not None else ""
        row = out.setdefault(g, {"jobs": []})
        row["jobs"].append(job)
        for k, v in job["metrics"].items():
            row[k] = row.get(k, 0) + v
    return out


def _fold_accumulable(a: dict, acc_info: dict, m: dict) -> None:
    name, value = a.get("Name"), a.get("Value")
    try:
        value = float(value)
    except (TypeError, ValueError):
        return
    if name in TASK_METRICS:
        key, scale = TASK_METRICS[name]
        m[key] = m.get(key, 0) + value * scale
        return
    info = acc_info.get(a.get("ID"))
    if info is None or info[0] not in SQL_METRICS:
        return
    mname, mtype, _node = info
    key = SQL_METRICS[mname]
    m[key] = m.get(key, 0) + value * _SCALE.get(mtype, 1)
