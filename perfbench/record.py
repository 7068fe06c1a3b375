"""Statistics, the per-run record and the one-line result.

The record file carries every operation the run attempted (each job
pass, bucket commit, query and trigger), with attempted and failed counts
and every wall sample. Nothing is dropped for length: the stdout line holds
only totals and metrics, and the file holds the rest.
"""

from __future__ import annotations

import json
import math
import os
import platform
import statistics
import subprocess


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def geomean(xs: list[float]) -> float:
    return float(math.exp(sum(math.log(x) for x in xs) / len(xs)))


def iqr_share(xs: list[float]) -> float:
    """Distance between the first and third quartile, as a share of the median."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return float((q3 - q1) / median(xs))


def summary(xs: list[float]) -> dict:
    """Median and IQR, plus each of p90/p99 only when at least ten samples
    lie beyond it (n >= 100 for p90, n >= 1000 for p99)."""
    out = {"n": len(xs), "median": median(xs), "iqr_share": iqr_share(xs)}
    s = sorted(xs)
    for p in (90, 99):
        if len(s) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = s[math.ceil(len(s) * p / 100) - 1]
    return out


class OpLog:
    """Every operation of a run, by name: attempted, failed and wall samples."""

    def __init__(self) -> None:
        self.ops: dict[str, dict] = {}

    def add(self, name: str, wall: float | None, ok: bool = True) -> None:
        op = self.ops.setdefault(name, {"attempted": 0, "failed": 0, "walls": []})
        op["attempted"] += 1
        if not ok:
            op["failed"] += 1
        elif wall is not None:
            op["walls"].append(wall)

    def walls(self, name: str) -> list[float]:
        return self.ops.get(name, {}).get("walls", [])

    def totals(self) -> tuple[int, int]:
        return (sum(o["attempted"] for o in self.ops.values()),
                sum(o["failed"] for o in self.ops.values()))


def load1() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> dict[str, int]:
    """All and stolen CPU ticks since boot (``/proc/stat``); the share of
    stolen ticks over a run shows time the host gave to other machines."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return {"total": sum(fields), "steal": fields[7] if len(fields) > 7 else 0}


def machine() -> dict:
    """Machine context: cores, load, CPU ticks, interpreter, Spark and Java versions."""
    import pyspark

    info = {
        "nproc": len(os.sched_getaffinity(0)),
        "load1": load1(),
        "cpu_ticks": cpu_ticks(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": None,
    }
    try:
        r = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
        info["java"] = (r.stderr or r.stdout).splitlines()[0]
    except (OSError, subprocess.TimeoutExpired, IndexError):
        pass
    return info


def result_line(correct: bool, ops: OpLog, metrics: dict[str, tuple[float, str]]) -> str:
    """The last stdout line: exactly correct, attempted, failed and metrics."""
    attempted, failed = ops.totals()
    return json.dumps({
        "correct": bool(correct),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })


def write_record(path: str, record: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)
    os.replace(tmp, path)
