"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over crossai_ts_spark.entry_queries.REGISTRY: each implemented
operator from SURVEY.md §2 is exposed as a (spark_fn, duckdb_oracle_sql)
pair; entries without SQL get the driver's weaker rows-only check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from crossai_ts_spark.entry_queries import REGISTRY  # noqa: E402

# Driver CORRECTNESS coverage rotation: the driver checks a bounded prefix
# (~50) of queries() per round, so iteration order is
# least-recently-driver-checked first — never-checked queries (new this
# round) lead, then ascending by the round of each query's latest driver
# row. Derived at import time from the CORRECTNESS_r*.json artifacts the
# driver itself writes, so the rotation maintains itself as rounds accrue.


def _last_checked() -> dict[str, int]:
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.load(open(path))
        except (json.JSONDecodeError, OSError):
            continue
        if isinstance(data, dict):
            for name, rec in data.items():
                if isinstance(rec, dict):
                    last[name] = max(last.get(name, 0), rnd)
    return last


def _ordered_names() -> list[str]:
    last = _last_checked()
    names = list(REGISTRY)
    # stable: never-checked (0) first in registry order, then oldest rounds
    return sorted(names, key=lambda n: last.get(n, 0))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tokenize sf0.001 documents -> 3-tier retention cascade."""
    from crossai_ts_spark.operators.rollup import cascade
    from crossai_ts_spark.sources.tokenize import tokenize_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seqs = tokenize_documents(docs)
    return cascade(seqs, w=32, fanout=8, tiers=3)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name][0] for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name][1]
        for name in _ordered_names()
        if REGISTRY[name][1] is not None
    }
