"""Salted two-phase aggregation for Zipf-skewed keys (north_rule §4.3.1).

``source`` is Zipf(1.2) over 8 values: at 10^12 sequences a plain
``groupBy(source)`` funnels ~46% of all rows through one reducer. The fix
is the classic partial/final decomposition made explicit:

  phase 1: groupBy(key, salt) where salt = pmod(xxhash64(doc_id), S)
           -> S partial rows per key, each reducer sees ~1/S of the hot key
  phase 2: groupBy(key) merging the partials (sum∘sum, min∘min, ...)

All merge identities are the exact integer forms, so the result is
bitwise-identical under any salt count or partitioning (tested). AQE skew
handling stays on as backup, not substitute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# salt shards S of the hot key
SALTS = 8


def salted_tier_source_rollup(tier_df: DataFrame) -> DataFrame:
    """Cross-doc per-(source, tier, window_start) continuous aggregate.

    This is the one genuinely hot-keyed shuffle in the engine (all docs of a
    source contribute to the same window rows); two-phase salting bounds any
    single reducer's share at ~1/SALTS.
    """
    partial = (
        tier_df.withColumn("_salt", F.pmod(F.xxhash64("doc_id"), F.lit(SALTS)).cast("int"))
        .groupBy("source", "tier", "window_start", "_salt")
        .agg(
            F.min("t_min").alias("p_min"),
            F.max("t_max").alias("p_max"),
            F.sum("t_sum").alias("p_sum"),
            F.sum("t_cnt").alias("p_cnt"),
            F.count("*").alias("p_docs"),
        )
    )
    return (
        partial.groupBy("source", "tier", "window_start")
        .agg(
            F.min("p_min").alias("t_min"),
            F.max("p_max").alias("t_max"),
            F.sum("p_sum").alias("t_sum"),
            F.sum("p_cnt").alias("t_cnt"),
            F.sum("p_docs").alias("n_docs"),
        )
        .withColumn("t_mean", F.col("t_sum").cast("double") / F.col("t_cnt").cast("double"))
    )
