"""Two-cluster-size scaling evidence (north_rule: efficiency >= 0.8 from N
to 4N executors; sandbox proxy: local[nproc // 4] vs local[nproc], identical
input).

Methodology (each point hardened against a measured pitfall):
  * the input is MATERIALIZED to parquet once and read identically by both
    levels — no per-level cache layouts;
  * each level runs in its own persistent subprocess/JVM (local[N] is fixed
    at session start), and their trials alternate back-to-back
    (``run_interleaved``): sequential runs minutes apart measure the host's
    drift, not the job;
  * BLAS/OMP threads are pinned to 1 (N python workers x nproc-sized
    OpenBLAS pools oversubscribed the box 32x and made local[32] 4x SLOWER
    than local[8] before the fix — see session.py);
  * the measured job is the full north_rule pipeline — 3-tier cascade +
    Gorilla/ΔΔ compression of every tier — so compute dominates fixed
    job-scheduling overhead (~1.6 s/run measured);
  * a warm-up run precedes the timed run (JIT, Arrow init, python workers).

Writes BENCH/BASELINE.md.   Usage:
    python tools/bench_scaling.py [--docs 60000] [--trials 3] [--warmup-pairs 4]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INPUT = "/tmp/scale_input_{docs}"

GEN = r"""
import os, sys
os.environ["PYTHONPATH"] = {repo!r}
sys.path.insert(0, {repo!r})
from crossai_ts_spark.session import get_spark
from crossai_ts_spark.datagen import gen_sequences
spark = get_spark()
gen_sequences(spark, n_docs={docs}, seed=42, partitions=128).write.mode("overwrite").parquet({path!r})
spark.stop()
"""

CHILD_STEP = r"""
import json, os, sys, time
os.environ["PYTHONPATH"] = {repo!r}  # python workers need the pkg too
sys.path.insert(0, {repo!r})
from crossai_ts_spark.session import get_spark
from crossai_ts_spark.operators.rollup import cascade
from crossai_ts_spark.functions.codecs import compress_tiers
spark = get_spark(app_name="bench_scaling", master="local[{cores}]", shuffle_partitions={cores})

def job(limit=None):
    seqs = spark.read.parquet({path!r})
    if limit:
        seqs = seqs.limit(limit)
    tiers = cascade(seqs, w=64, fanout=64, tiers=3)
    segs = compress_tiers(tiers)
    return segs.count()

job(limit=4000)  # small warm-up: JIT, Arrow init, python worker pool
print("READY", flush=True)
n_segs = 0
for line in sys.stdin:
    cmd = line.strip()
    if cmd == "GO":
        t0 = time.monotonic()
        n_segs = job()
        print("WALL %.3f" % (time.monotonic() - t0), flush=True)
    elif cmd == "GC":
        # synchronous full GC so this JVM's garbage from its own trial is
        # collected NOW, while no one is being timed — not concurrently
        # during the OTHER level's next trial (idle-JVM background GC
        # threads steal cores from the short high-level walls)
        spark._jvm.System.gc()
        print("GCOK", flush=True)
    elif cmd == "META":
        meta = spark.read.parquet({path!r}).selectExpr(
            "count(*) AS n_seq", "sum(cast(n_tok as bigint)) AS n_tok").collect()[0]
        print("METAJ " + json.dumps({{"n_seq": meta.n_seq, "n_tok": int(meta.n_tok),
              "segments": n_segs}}), flush=True)
    else:
        break
spark.stop()
"""


class _StepChild:
    """A persistent one-level JVM driven trial-by-trial over stdin.

    Two levels run minutes apart would measure drift: this sandbox's
    per-core speed drifts between
    sessions AND within one (pyloop 0.5-1.3 s; r5's local[2] trials
    include a 60.9 s interference outlier while r6's local[2] found a
    38 s fast window) — a ratio of two mins taken in different ambient
    windows measures the drift, not the job. Alternating the levels
    back-to-back makes each adjacent (low, high) pair share one ambient
    window, so the PER-PAIR efficiency is drift-free; the spread across
    pairs is then visible instead of silently folded into the ratio.
    """

    def __init__(self, cores: int, path: str):
        self.cores = cores
        code = CHILD_STEP.format(repo=REPO, cores=cores, path=path)
        self.p = subprocess.Popen([sys.executable, "-c", code], stdin=subprocess.PIPE,
                                  stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                  text=True, bufsize=1)

    def _read(self, prefix: str) -> str:
        while True:
            line = self.p.stdout.readline()
            if not line:
                raise RuntimeError(f"local[{self.cores}] child died")
            if line.startswith(prefix):
                return line[len(prefix):].strip()

    def wait_ready(self) -> None:
        self._read("READY")

    def trial(self) -> float:
        self.p.stdin.write("GO\n")
        return float(self._read("WALL"))

    def gc(self) -> None:
        self.p.stdin.write("GC\n")
        self._read("GCOK")

    def meta(self) -> dict:
        self.p.stdin.write("META\n")
        return json.loads(self._read("METAJ"))

    def close(self) -> None:
        try:
            self.p.stdin.write("QUIT\n")
            self.p.wait(timeout=60)
        except Exception:
            self.p.kill()


def at_floor(earlier: list[tuple[float, float]], pair: tuple[float, float]) -> bool:
    """A warm-up pair is at floor when each level's wall lies within 8%,
    either way, of that level's minimum over the pairs BEFORE it. A pair
    that sets a new minimum by more than 8% is still warming up, so falling
    walls never read as converged; the first pair has nothing to compare."""
    if not earlier:
        return False
    return all(abs(w - m) <= 0.08 * m for w, m in zip(pair, map(min, zip(*earlier))))


def run_interleaved(low: int, high: int, path: str, pairs: int,
                    warmup_pairs: int = 4) -> tuple[dict, dict, list]:
    """``warmup_pairs`` unrecorded pairs run first: on this microVM a fresh
    JVM pays a first-touch page-fault tax for several trials (the high
    level needs ~6-8 before its floor), so early pairs measure heap
    warm-up, not the job. Measured pairs start with both JVMs warm."""
    lo_c, hi_c = _StepChild(low, path), _StepChild(high, path)
    lo_c.wait_ready(); hi_c.wait_ready()
    lo_walls, hi_walls, pair_effs = [], [], []
    ratio = high / low
    # Adaptive warm-up (r7): ``warmup_pairs`` is the MINIMUM. The high-level
    # JVM takes 6-9 full trials to reach its wall floor on this microVM
    # (first-touch page faults + JIT + heap shakeout — r7 measured local[8]
    # walls 14.2 -> 10.0 across 8 trials on identical code and input), so a
    # fixed small warm-up lets shakeout leak into the measured pairs and
    # depress their efficiency. Keep running unrecorded pairs until BOTH
    # levels' walls have converged to the floor of the pairs before them
    # (``at_floor``) on two consecutive pairs, capped at 12 pairs.
    def timed_pair() -> tuple[float, float]:
        # each trial is followed by a synchronous full GC in ITS OWN JVM
        # plus a short settle, so neither JVM's deferred garbage is
        # collected concurrently with the other level's timed window —
        # idle-JVM GC threads were stealing cores from the short
        # high-level walls (measured: local[8] oscillated 10.1-13.4 s
        # with no ambient load spike before this)
        wl = lo_c.trial(); lo_c.gc(); time.sleep(1.5)
        wh = hi_c.trial(); hi_c.gc(); time.sleep(1.5)
        return wl, wh

    warm: list[tuple[float, float]] = []
    converged_streak = 0
    for i in range(12):
        wl, wh = timed_pair()
        floor = at_floor(warm, (wl, wh))
        warm.append((wl, wh))
        converged_streak = converged_streak + 1 if floor else 0
        print(f"warmup pair {i + 1}: local[{low}] {wl:.2f}s "
              f"local[{high}] {wh:.2f}s eff {(wl / wh) / ratio:.3f} "
              f"(excluded{', at floor' if floor else ''})", flush=True)
        if i + 1 >= warmup_pairs and converged_streak >= 2:
            break
    def load1() -> float:
        try:
            with open("/proc/loadavg") as f:
                return float(f.read().split()[0])
        except OSError:
            return -1.0

    for i in range(pairs):
        l0 = load1()
        wl, wh = timed_pair()
        lo_walls.append(wl); hi_walls.append(wh)
        pair_effs.append((wl / wh) / ratio)
        # load1 brackets disclose ambient contention per pair (the bench.py
        # pattern): ambient load beyond the trial's own cores marks a pair
        # whose efficiency measured weather, not the job
        print(f"pair {i + 1}/{pairs}: local[{low}] {wl:.2f}s local[{high}] {wh:.2f}s "
              f"eff {pair_effs[-1]:.3f} load1 {l0:.2f}->{load1():.2f}", flush=True)
    m = lo_c.meta()
    hi_m = hi_c.meta()
    lo_c.close(); hi_c.close()

    def level(cores, walls, segs):
        wall = min(walls)
        return {"cores": cores, "wall": wall, "walls": [round(w, 2) for w in walls],
                "n_seq": m["n_seq"], "n_tok": m["n_tok"], "segments": segs,
                "tokens_per_sec": m["n_tok"] / wall, "seqs_per_sec": m["n_seq"] / wall}

    return level(low, lo_walls, m["segments"]), level(high, hi_walls, hi_m["segments"]), pair_effs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=60000)
    ap.add_argument("--trials", type=int, default=3, help="measured low/high pairs")
    ap.add_argument("--warmup-pairs", type=int, default=4,
                    help="unrecorded pairs before the measured ones "
                         "(JVM first-touch page-fault warm-up)")
    ap.add_argument("--keep-input", action="store_true")
    args = ap.parse_args()
    # the north_rule's N -> 4N step on this machine's cores
    high = len(os.sched_getaffinity(0))
    low = max(1, high // 4)

    path = INPUT.format(docs=args.docs)
    if not os.path.isdir(path):
        subprocess.run(
            [sys.executable, "-c", GEN.format(repo=REPO, docs=args.docs, path=path)],
            check=True, capture_output=True, timeout=3000,
        )

    lo, hi, pair_effs = run_interleaved(low, high, path, args.trials, args.warmup_pairs)
    ratio = high / low
    # Headline = MEDIAN pair (ADVICE r6: max-of-pairs is upward-biased —
    # noise that throttles only the low-core trial inflates that pair's
    # efficiency, and the max selects exactly those outliers). The best
    # pair is reported as an explicit upper bound, the min-of-trials
    # ratio as the conservative floor; the full distribution is shown.
    eff = statistics.median(pair_effs)
    speedup = eff * ratio
    min_eff = (lo["wall"] / hi["wall"]) / ratio
    pair_md = (
        "\nProtocol: INTERLEAVED — both level JVMs stay up and trials\n"
        "alternate local[{}] / local[{}] back-to-back, so each adjacent pair\n"
        "shares one ambient-speed window of this drifting shared host.\n"
        "Unrecorded ADAPTIVE warm-up pairs precede the measured ones:\n"
        "warm-up runs until both levels' walls converge to their running\n"
        "floor (within 8% on two consecutive pairs; min {}, cap 12) —\n"
        "the high-level JVM takes 6-9 full trials of first-touch\n"
        "page-fault + JIT + heap shakeout on this microVM before its\n"
        "wall floor (r7 measured local[8] 14.2s -> 10.0s on identical\n"
        "code and page-cached input). Every trial is followed by a\n"
        "synchronous full GC in its own JVM plus a settle, so neither\n"
        "JVM's deferred garbage is collected concurrently with the\n"
        "other level's timed window.\n"
        "The headline efficiency is the MEDIAN measured pair (max-of-pairs\n"
        "is an upward-biased estimator: ambient noise hitting only the\n"
        "low-core trial inflates its pair, so the best pair is an upper\n"
        "bound, not 'the' efficiency). Full per-pair distribution: {}.\n"
        "Best (least-throttled) pair, upper bound: {:.3f}.\n"
        "Min-of-trials efficiency (mins may come from different windows),\n"
        "conservative floor: {:.3f}.\n".format(
            low, high, args.warmup_pairs,
            "[" + ", ".join(f"{e:.3f}" for e in pair_effs) + "]",
            max(pair_effs), min_eff)
    )

    md = f"""# BENCH/BASELINE — scaling evidence (N vs {int(ratio)}N parallelism)

north_rule criterion: throughput scaling efficiency >= 0.8 from N to 4N
executors. Sandbox proxy (no real cluster): the identical job on identical
parquet input at two local parallelism levels, each in its own JVM;
BLAS threads pinned to 1; warm-up pairs excluded.

Job = full retention pipeline: 3-tier cascade (pandas/Arrow kernel,
w=64, fanout=64) + Gorilla XOR / delta-of-delta compression of every tier
({lo["segments"]} compressed segments out).

Input: gen_sequences(seed=42, n_docs={args.docs}) -> {lo["n_seq"]:,} sequences,
{lo["n_tok"]:,} tokens, 128 parquet partitions.

| parallelism | wall (s) | tokens/sec | sequences/sec |
|---|---|---|---|
| local[{low}] (N) | {lo["wall"]:.2f} (trials {lo["walls"]}) | {lo["tokens_per_sec"]:,.0f} | {lo["seqs_per_sec"]:,.0f} |
| local[{high}] ({int(ratio)}N) | {hi["wall"]:.2f} (trials {hi["walls"]}) | {hi["tokens_per_sec"]:,.0f} | {hi["seqs_per_sec"]:,.0f} |

speedup = {speedup:.2f}x over a {ratio:.0f}x core increase
**scaling efficiency = {eff:.3f}** (target >= 0.8)
{pair_md}
Caveat (honest proxy limits): both "clusters" share one machine's memory
bandwidth and the driver JVM; a real 4x executor step (separate hosts)
scales the bandwidth with the cores. The per-level fixed cost (~1.6 s of
job scheduling + Arrow/python-worker init, measured by varying input size)
is amortized by the {args.docs}-doc workload.
"""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    out_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    # preserve hand-written evidence sections below the marker across re-runs
    marker = "<!-- extra-sections -->"
    extra = ""
    if os.path.exists(out_path):
        old = open(out_path).read()
        if marker in old:
            extra = old[old.index(marker):]
    with open(out_path, "w") as f:
        f.write(md)
        if extra:
            f.write("\n" + extra)
    print(md)
    rec = {"low": lo, "high": hi, "efficiency": eff,
           "pair_efficiencies": [round(e, 4) for e in pair_effs]}
    print(json.dumps(rec))
    if not args.keep_input:
        shutil.rmtree(path, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
