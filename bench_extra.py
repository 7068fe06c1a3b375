"""Per-query noop-sink timing + ``explain("formatted")`` dumps, separate
from the frozen ``bench.py``.

Usage:
  python bench_extra.py q1 q2 ...          # time named queries (min of N)
  python bench_extra.py --plans q1 q2 ...  # only dump plans/<PLAN_TAG>/<q>.txt
                                           # and each oracle_sql() text to <q>.sql
  PLAN_TAG=before|after  BENCH_TRIALS=3  SPARK_GRAFT_SF_DIR=...

No query names means every registered query. ``--plans`` runs no query;
timing needs ``BENCH_TRIALS`` >= 1.

Dumped plans have expression ids, plan ids, RDD ids, file paths and UUIDs
replaced by placeholders, so two checkouts' plans and DuckDB oracle texts
compare with ``diff -r plans/before plans/after``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from crossai_ts_spark.session import get_spark

# what differs between two runs of one plan: (pattern, placeholder)
PLAN_VOLATILE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"file:[^\s,\])]+"), "file:PATH"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "UUID"),
]


def normalise_plan(text: str) -> str:
    for pattern, placeholder in PLAN_VOLATILE:
        text = pattern.sub(placeholder, text)
    return text


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    dump_plans = "--plans" in sys.argv
    tag = os.environ.get("PLAN_TAG", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_trials = int(os.environ.get("BENCH_TRIALS", "3"))
    if n_trials < 1 and not dump_plans:
        print(f"[bench_extra] BENCH_TRIALS={n_trials}: nothing to time (>= 1, or --plans)", file=sys.stderr)
        return 2
    spark = get_spark(app_name="bench_extra")

    import __spark_entry__ as e

    qs = e.queries()
    sqls = e.oracle_sql()
    names = args or list(qs)
    from crossai_ts_spark.caching import release_tracked

    if not dump_plans:
        # warm-up (uncounted): JVM codegen + Arrow + python workers
        try:
            qs["tokenize_stats"](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            pass

    out: dict[str, dict] = {}
    plan_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", tag)
    for name in names:
        if name not in qs:
            print(f"[bench_extra] unknown query {name}", file=sys.stderr)
            continue
        if dump_plans:
            os.makedirs(plan_dir, exist_ok=True)
            df = qs[name](spark, sf_dir)
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as f:
                f.write(normalise_plan(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")))
            release_tracked()
            if name in sqls:
                with open(os.path.join(plan_dir, f"{name}.sql"), "w") as f:
                    f.write(sqls[name])
            continue
        trials = []
        for _ in range(n_trials):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.monotonic()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            trials.append(round(time.monotonic() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            release_tracked()
        out[name] = {"min": min(trials), "trials": trials}
        print(f"[bench_extra] {name}: min={min(trials)} trials={trials}", file=sys.stderr)
    if not dump_plans:
        print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
