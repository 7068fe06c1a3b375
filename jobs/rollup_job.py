"""spark-submit entry point: checkpointed, resumable 3-tier rollup.

    spark-submit --py-files engine.zip jobs/rollup_job.py \
        --input <parquet dir | iceberg:tbl | synthetic:N_DOCS> \
        --out /path/to/rollup_out \
        --buckets 16 [--w 64 --fanout 64 --tiers 3] [--resume]

Each bucket (pmod(xxhash64(doc_id), B)) commits atomically in one Spark job
(``plans/checkpoint.commit_bucket``): its tier rows under
``data/bucket=B/``, its compressed segments (Gorilla + delta-of-delta, one
per doc series and tier) under ``compressed/bucket=B/``, and a lineage +
metrics manifest. --resume anti-joins completed manifests and processes
only pending buckets, segments included (north_rule: "resumable from
per-partition checkpoints with lineage + metrics emitted per retention
tier"). A run without --resume first drops any bucket >= --buckets left in
--out by an earlier, wider run.

--compress is accepted and does nothing: every bucket commit writes its
segments. The benchmark under ``perfbench/`` still passes it; it goes once
that call drops it.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import functions as F


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--w", type=int, default=64)
    ap.add_argument("--fanout", type=int, default=64)
    ap.add_argument("--tiers", type=int, default=3)
    ap.add_argument("--compress", action="store_true")  # a no-op, see the docstring
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args(argv)
    for flag in ("buckets", "w", "fanout", "tiers"):
        if getattr(args, flag) < 1:  # before the session, before any drop
            ap.error(f"--{flag} must be >= 1, got {getattr(args, flag)}")

    from crossai_ts_spark.datagen import gen_sequences
    from crossai_ts_spark.plans.checkpoint import commit_bucket, drop_buckets_from, pending_buckets, with_bucket
    from crossai_ts_spark.session import get_spark
    from crossai_ts_spark.sources.io import read_sequences

    from pyspark.sql import SparkSession

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="rollup_job", master=args.master)

    if args.input.startswith("synthetic:"):
        n_docs = int(args.input.split(":", 1)[1])
        seqs = gen_sequences(spark, n_docs=n_docs, seed=args.seed)
        snapshot = f"synthetic:seed={args.seed}:n={n_docs}"
    else:
        seqs = read_sequences(spark, args.input)
        snapshot = args.input

    seqs = with_bucket(seqs, args.buckets)

    params = {"n_buckets": args.buckets, "w": args.w, "fanout": args.fanout, "n_tiers": args.tiers}
    if args.resume:
        todo = pending_buckets(args.out, args.buckets, expect={"input_snapshot": snapshot, **params})
    else:
        todo = list(range(args.buckets))
        dropped = drop_buckets_from(args.out, args.buckets)  # an older run's extra buckets
        if dropped:
            print(f"[rollup_job] dropped stale buckets {dropped}")
    print(f"[rollup_job] buckets total={args.buckets} pending={len(todo)}")
    t0 = time.monotonic()
    for b in todo:
        m = commit_bucket(seqs.filter(F.col("bucket") == b), args.out, b, input_snapshot=snapshot, params=params)
        toks = sum(t["tokens"] for t in m["tiers"].values())
        segs = sum(t["segments"] for t in m["tiers"].values())
        print(f"[rollup_job] bucket={b} rows={sum(t['rows'] for t in m['tiers'].values())} "
              f"tokens={toks} segments={segs} wall={m['wall_sec']:.1f}s")

    wall = time.monotonic() - t0
    print(json.dumps({"job": "rollup", "buckets_run": len(todo), "wall_sec": wall}))
    if not preexisting:  # don't tear down a caller-owned session (tests)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
