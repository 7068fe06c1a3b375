"""Canonical schemas for the engine.

Input table shape is fixed by BASELINE.json input_hint:
    (doc_id: string, tokens: array<int32>, n_tok: int32, source: string)

Each doc's token array is a signal sampled at offsets 0..n_tok-1 (the
reference's ragged ``DatasetList``; caits/dataset/_dataset/_list.py:10-27).

Tier (rollup) rows carry BOTH the float mean and the exact integer power
sums (t_sum/t_cnt) so any higher tier can be re-aggregated bitwise-exactly:
tier k's mean is always sum/count of raw tokens, never a mean-of-means.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- input
SEQUENCES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------- tiers
# window_start is in raw-offset units; tier width = W * FANOUT**(tier-1)
TIER_FIELDS = [
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("source", T.StringType(), False),
    T.StructField("tier", T.IntegerType(), False),
    T.StructField("window_start", T.LongType(), False),
    T.StructField("t_min", T.IntegerType(), False),
    T.StructField("t_max", T.IntegerType(), False),
    T.StructField("t_sum", T.LongType(), False),
    T.StructField("t_cnt", T.LongType(), False),
    T.StructField("t_last", T.IntegerType(), False),
    T.StructField("t_mean", T.DoubleType(), False),
]
TIER_SCHEMA = T.StructType(TIER_FIELDS)

# compressed tier segments: one row per (doc, tier) with codec blobs
COMPRESSED_TIER_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("tier", T.IntegerType(), False),
        T.StructField("n_points", T.LongType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("ts_blob", T.BinaryType(), False),  # delta-of-delta offsets
        T.StructField("val_blob", T.BinaryType(), False),  # Gorilla XOR float64 means
    ]
)

# default tiering: "1m/1h/1d analogs over sequence offsets"
DEFAULT_W = 64
DEFAULT_FANOUT = 64
DEFAULT_TIERS = 3


def tier_width(tier: int, w: int = DEFAULT_W, fanout: int = DEFAULT_FANOUT) -> int:
    """Window width (in raw offsets) of a retention tier (1-based)."""
    if tier < 1:
        raise ValueError(f"tier must be >= 1, got {tier}")
    return w * fanout ** (tier - 1)
