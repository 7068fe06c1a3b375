"""Numpy oracle for tumbling rollups and the retention cascade.

Exactness contract (matches the Spark engine bit-for-bit):
  - t_sum  : int64 sum of int32 tokens (exact; no overflow up to 2^32 tokens)
  - t_cnt  : int64 count
  - t_min/max/last : int32 order statistics (exact)
  - t_mean : ONE float64 division t_sum / t_cnt — never a mean of means and
    never a float accumulation, so it is order- and partitioning-invariant.

Tumbling semantics follow caits/windowing.py:188-202 ``create_chunks``:
ceil(n/W) windows, ragged tail KEPT. (The full-windows-only variant of
caits/windowing.py:40-44 is a post-filter: t_cnt == W.)

``cascade_from_tier`` is the one Spark reference here: the groupBy
re-aggregation of a stored tier k into tier k+1.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import tier_width


def rollup_doc(tokens: np.ndarray, w: int) -> dict[str, np.ndarray]:
    """Tumbling rollup of one token array at window width ``w`` (offset units).

    Returns dict of parallel arrays keyed window_start/min/max/sum/cnt/last/mean.
    """
    tokens = np.asarray(tokens, dtype=np.int32)
    n = tokens.size
    if n == 0:
        z = np.array([], dtype=np.int64)
        return {
            "window_start": z,
            "t_min": z.astype(np.int32),
            "t_max": z.astype(np.int32),
            "t_sum": z,
            "t_cnt": z,
            "t_last": z.astype(np.int32),
            "t_mean": z.astype(np.float64),
        }
    starts = np.arange(0, n, w, dtype=np.int64)
    sums = np.add.reduceat(tokens.astype(np.int64), starts)
    mins = np.minimum.reduceat(tokens, starts)
    maxs = np.maximum.reduceat(tokens, starts)
    ends = np.minimum(starts + w, n)
    cnts = (ends - starts).astype(np.int64)
    lasts = tokens[ends - 1]
    means = sums / cnts  # float64, single division per window
    return {
        "window_start": starts,
        "t_min": mins,
        "t_max": maxs,
        "t_sum": sums,
        "t_cnt": cnts,
        "t_last": lasts,
        "t_mean": means,
    }


def rollup_frame(
    docs: pd.DataFrame, w: int, tier: int = 1
) -> pd.DataFrame:
    """Rollup every doc of a (doc_id, tokens, n_tok, source) frame at width w."""
    out = []
    for row in docs.itertuples(index=False):
        r = rollup_doc(np.asarray(row.tokens), w)
        k = len(r["window_start"])
        out.append(
            pd.DataFrame(
                {
                    "doc_id": [row.doc_id] * k,
                    "source": [row.source] * k,
                    "tier": np.full(k, tier, dtype=np.int32),
                    **r,
                }
            )
        )
    cols = ["doc_id", "source", "tier", "window_start", "t_min", "t_max", "t_sum", "t_cnt", "t_last", "t_mean"]
    if not out:
        return pd.DataFrame(columns=cols)
    return pd.concat(out, ignore_index=True)[cols]


def cascade_oracle(
    docs: pd.DataFrame, w: int = 64, fanout: int = 64, tiers: int = 3
) -> pd.DataFrame:
    """All retention tiers, each computed DIRECTLY from raw tokens.

    Computing every tier from raw (not from the previous tier) makes this a
    genuinely independent check of the engine's tier-(k-1)→tier-k
    re-aggregation identities (min∘min, max∘max, Σ∘Σ, Σcnt, last∘last,
    mean = Σ/Σcnt).
    """
    frames = [rollup_frame(docs, w * fanout ** (t - 1), tier=t) for t in range(1, tiers + 1)]
    return pd.concat(frames, ignore_index=True)


def cascade_from_tier(
    tier_df: DataFrame,
    from_tier: int,
    w: int = 64,
    fanout: int = 64,
) -> DataFrame:
    """Re-aggregate tier k rows into tier k+1 rows via groupBy.

    The relational form of the partial-agg identities (a Spark plan, not
    numpy): re-aggregating the kernel's tier 1 with it must give tier 2
    of :func:`cascade_oracle` bitwise. No job or bench runs it.
    """
    width_next = tier_width(from_tier + 1, w, fanout)
    win = (F.col("window_start") / F.lit(width_next)).cast("long")
    g = (
        tier_df.filter(F.col("tier") == from_tier)
        .withColumn("_ws_next", win * width_next)
        .groupBy("doc_id", "source", "_ws_next")
        .agg(
            F.min("t_min").alias("t_min"),
            F.max("t_max").alias("t_max"),
            F.sum("t_sum").alias("t_sum"),
            F.sum("t_cnt").alias("t_cnt"),
            F.max_by("t_last", "window_start").alias("t_last"),
        )
    )
    return g.select(
        "doc_id",
        "source",
        F.lit(from_tier + 1).cast("int").alias("tier"),
        F.col("_ws_next").alias("window_start"),
        "t_min",
        "t_max",
        "t_sum",
        "t_cnt",
        "t_last",
        (F.col("t_sum").cast("double") / F.col("t_cnt").cast("double")).alias("t_mean"),
    )
