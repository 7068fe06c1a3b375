"""spark-submit entry point: checkpointed, resumable 3-tier rollup.

    spark-submit --py-files engine.zip jobs/rollup_job.py \
        --input <parquet dir | iceberg:tbl | synthetic:N_DOCS> \
        --out /path/to/rollup_out \
        --buckets 16 [--w 64 --fanout 64 --tiers 3] \
        [--compress] [--resume]

Each bucket (pmod(xxhash64(doc_id), B)) commits atomically with a lineage +
metrics manifest; --resume anti-joins completed manifests and processes only
pending buckets (north_rule: "resumable from per-partition checkpoints with
lineage + metrics emitted per retention tier"). A run without --resume first
drops any bucket >= --buckets left in --out by an earlier, wider run.
--compress rewrites compressed/ whenever a bucket ran or an earlier compress
step did not finish: a run with pending buckets first removes
compressed/_SUCCESS, so the marker only vouches for a compress step that
ran after the last bucket commit.
"""

from __future__ import annotations

import argparse
import json
import os
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
    ap.add_argument("--compress", action="store_true")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args(argv)
    for flag in ("buckets", "w", "fanout", "tiers"):
        if getattr(args, flag) < 1:  # before the session, before any drop
            ap.error(f"--{flag} must be >= 1, got {getattr(args, flag)}")

    from crossai_ts_spark.datagen import gen_sequences
    from crossai_ts_spark.functions.codecs import compress_tiers
    from crossai_ts_spark.operators.rollup import cascade
    from crossai_ts_spark.plans.checkpoint import commit_bucket, drop_buckets_from, pending_buckets, with_bucket
    from crossai_ts_spark.session import get_spark
    from crossai_ts_spark.sources.io import read_sequences, write_table

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
    done_marker = os.path.join(args.out, "compressed", "_SUCCESS")
    if todo and os.path.exists(done_marker):
        os.remove(done_marker)  # the segments no longer match data/
    t0 = time.monotonic()
    for b in todo:
        sub = seqs.filter(F.col("bucket") == b).drop("bucket")
        tiers_df = cascade(sub, w=args.w, fanout=args.fanout, tiers=args.tiers)
        m = commit_bucket(tiers_df, args.out, b, input_snapshot=snapshot, params=params)
        toks = sum(t["tokens"] for t in m["tiers"].values())
        print(f"[rollup_job] bucket={b} rows={sum(t['rows'] for t in m['tiers'].values())} "
              f"tokens={toks} wall={m['wall_sec']:.1f}s")

    # also when every bucket is done but an earlier compress step died
    # before it finished (Spark writes _SUCCESS last)
    if args.compress and (todo or not os.path.exists(done_marker)):
        tiers_all = spark.read.parquet(f"{args.out}/data")
        segs = compress_tiers(tiers_all)
        write_table(segs, f"{args.out}/compressed")
        print("[rollup_job] compressed segments written")

    wall = time.monotonic() - t0
    print(json.dumps({"job": "rollup", "buckets_run": len(todo), "wall_sec": wall}))
    if not preexisting:  # don't tear down a caller-owned session (tests)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
