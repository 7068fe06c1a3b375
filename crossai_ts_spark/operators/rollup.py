"""Tumbling rollup + retention cascade.

Scale design (the part that matters at 10^12 sequences / 100 TB):

* Each doc's tokens live in ONE array cell, so tier-1 windows are computed
  WITHOUT any shuffle — a narrow projection using higher-order functions
  (``transform`` over a window spine + one sequential ``aggregate`` per
  window slice), or a vectorized numpy kernel in ``mapInPandas``. The raw
  tokens never cross an exchange.
* The cascade (tier k → k+1) is ALSO computed inside the same row before
  exploding: re-aggregation identities min∘min / max∘max / Σ∘Σ / Σcnt /
  last∘last applied to the tier-k window array. So the entire 3-tier rollup
  of 100 TB of tokens is one narrow map stage; only the (tiny) tier rows are
  ever shuffled — and only if a later op asks for it.
* ``rollup_long`` is the shuffle path for long-format inputs (post gap-fill):
  a plain groupBy — Spark's partial aggregation does map-side combine, and
  ``salted`` variants exist in operators/salted.py for skewed global keys.

Exactness: int64 sums of int32 tokens; mean = one float64 division
t_sum/t_cnt ⇒ bitwise-stable under any partitioning / strategy / tier path
(matches oracle/rollup.py).

Reference parity: tumbling-with-ragged-tail follows caits/windowing.py:188-202
(``create_chunks``); the aggregate set is the exact-stat subset of
caits/fe/_statistical.py (min :101, max :83, mean :49, length :161).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Literal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import DEFAULT_FANOUT, DEFAULT_TIERS, DEFAULT_W, TIER_SCHEMA, tier_width
from ..workers import worker_kernel

# Rows with tokens to roll up. Under ANSI ``size(null)`` is null, so null
# and empty arrays both drop here, whatever the row's ``n_tok`` says.
NONEMPTY = "size(tokens) > 0"


def _tier1_windows_expr(w: int, tokens: str = "tokens") -> str:
    """SQL expr: array<struct> of tier-1 windows from the raw token array.

    O(n) total, no shuffle. Shape: bind each window's slice ONCE in an
    inner transform, then compute the stats with native array_min/array_max
    /size/element_at plus a single scalar sum fold — HOF lambdas evaluate
    INTERPRETED per element, so the old per-element named_struct fold paid
    a 6-field struct allocation per TOKEN (measured 0.73 s vs 0.31 s for
    the sf0.1 corpus at w=64, bitwise-identical output; r8). The sum fold
    keeps the same left-to-right order, min/max are exact, so every value
    is unchanged.

    The window count comes from ``size(tokens)``, never from ``n_tok``: a
    row whose ``n_tok`` disagrees with its array still rolls up every token.
    Requires a non-empty array (callers filter :data:`NONEMPTY`).
    """
    return f"""
    transform(
      transform(sequence(0, cast(ceil(size({tokens}) / {w}.0) as int) - 1),
                wi -> named_struct('ws', cast(wi as bigint) * {w},
                                   's', slice({tokens}, wi * {w} + 1, {w}))),
      p -> named_struct(
        'window_start', p.ws,
        'mn', array_min(p.s),
        'mx', array_max(p.s),
        'sm', aggregate(p.s, cast(0 as bigint), (a, x) -> a + x),
        'cnt', cast(size(p.s) as bigint),
        'lst', element_at(p.s, -1)))
    """


def _next_tier_windows_expr(prev_col: str, fanout: int, width: int) -> str:
    """SQL expr: tier k+1 window array from tier k window array (same row).

    Same slice-bound shape as :func:`_tier1_windows_expr` — per-field
    extraction + native min/max and order-preserving scalar sum folds
    replace the per-element struct-allocating fold; values identical
    (min∘min / Σ∘Σ in the same order, last∘last)."""
    return f"""
    transform(
      transform(sequence(0, cast(ceil(size({prev_col}) / {fanout}.0) as int) - 1),
                wi -> named_struct('ws', cast(wi as bigint) * {width},
                                   's', slice({prev_col}, wi * {fanout} + 1, {fanout}))),
      p -> named_struct(
        'window_start', p.ws,
        'mn', array_min(transform(p.s, x -> x.mn)),
        'mx', array_max(transform(p.s, x -> x.mx)),
        'sm', aggregate(transform(p.s, x -> x.sm), cast(0 as bigint), (a, x) -> a + x),
        'cnt', aggregate(transform(p.s, x -> x.cnt), cast(0 as bigint), (a, x) -> a + x),
        'lst', element_at(p.s, -1).lst))
    """


def _explode_tier(df: DataFrame, windows_col: str, tier: int) -> DataFrame:
    # explode_outer: the plain explode makes the optimizer
    # (InferFiltersFromGenerate) inject a pre-Generate filter that re-evaluates
    # the ENTIRE window expression twice more (size(..)>0 && isnotnull(..)) —
    # measured in .explain; outer generate needs no such filter and empty
    # docs are already filtered out by NONEMPTY.
    w = F.explode_outer(F.col(windows_col)).alias("w")
    return df.select("doc_id", "source", w).select(
        "doc_id",
        "source",
        F.lit(tier).cast("int").alias("tier"),
        F.col("w.window_start").alias("window_start"),
        F.col("w.mn").alias("t_min"),
        F.col("w.mx").alias("t_max"),
        F.col("w.sm").alias("t_sum"),
        F.col("w.cnt").alias("t_cnt"),
        F.col("w.lst").alias("t_last"),
        (F.col("w.sm").cast("double") / F.col("w.cnt").cast("double")).alias("t_mean"),
    )


def rollup_native(df: DataFrame, w: int = DEFAULT_W, tier: int = 1) -> DataFrame:
    """Tier rollup at width w via higher-order functions — narrow, JVM-side."""
    width = w
    dfw = df.filter(NONEMPTY).withColumn("_w1", F.expr(_tier1_windows_expr(width)))
    return _explode_tier(dfw, "_w1", tier)


def cascade_native(
    df: DataFrame,
    w: int = DEFAULT_W,
    fanout: int = DEFAULT_FANOUT,
    tiers: int = DEFAULT_TIERS,
) -> DataFrame:
    """All retention tiers in one narrow pass, ONE explode.

    Tier k+1 is derived from tier k's window array INSIDE the row — the
    partial-aggregation identity the north_rule asks for, with zero shuffle.
    Tiers are tagged and concatenated into a single struct array before the
    (single) Generate: a union of per-tier branches would re-evaluate every
    lower tier once per branch (3x tier-1 work — measured in .explain).
    """
    dfw = df.filter(NONEMPTY).withColumn("_t1", F.expr(_tier1_windows_expr(w)))
    for k in range(2, tiers + 1):
        dfw = dfw.withColumn(
            f"_t{k}", F.expr(_next_tier_windows_expr(f"_t{k-1}", fanout, tier_width(k, w, fanout)))
        )
    tagged = ", ".join(
        f"transform(_t{k}, s -> named_struct('tier', {k}, 'window_start', s.window_start, "
        f"'mn', s.mn, 'mx', s.mx, 'sm', s.sm, 'cnt', s.cnt, 'lst', s.lst))"
        for k in range(1, tiers + 1)
    )
    dfw = dfw.select("doc_id", "source", F.explode_outer(F.expr(f"concat({tagged})")).alias("w"))
    return dfw.select(
        "doc_id",
        "source",
        F.col("w.tier").cast("int").alias("tier"),
        F.col("w.window_start").alias("window_start"),
        F.col("w.mn").alias("t_min"),
        F.col("w.mx").alias("t_max"),
        F.col("w.sm").alias("t_sum"),
        F.col("w.cnt").alias("t_cnt"),
        F.col("w.lst").alias("t_last"),
        (F.col("w.sm").cast("double") / F.col("w.cnt").cast("double")).alias("t_mean"),
    )


def cascade_pandas(
    df: DataFrame,
    w: int = DEFAULT_W,
    fanout: int = DEFAULT_FANOUT,
    tiers: int = DEFAULT_TIERS,
) -> DataFrame:
    """All tiers via one vectorized numpy kernel in mapInPandas (Arrow).

    Same narrow topology as cascade_native. Tier 1 is reduceat over raw
    tokens; tier k+1 is the MERGE of tier k's arrays (min∘min, Σ∘Σ, ...) —
    raw tokens are scanned exactly once per doc, and the cascade touches
    only the (64x smaller per level) tier arrays. Output columns are
    assembled per Arrow batch, not per doc.
    """
    widths = [tier_width(k, w, fanout) for k in range(1, tiers + 1)]

    def batch_rollup(flat_i32, doc_base, doc_len, width):
        """Tumbling rollup of EVERY doc in one reduceat sweep.

        Docs are adjacent in ``flat_i32``; each doc's windows tile it
        exactly, so the per-window start indices over the concatenation are
        strictly increasing and reduceat's left-fold segments match the
        per-doc kernel bit-for-bit (same adds in the same order). Returns
        (per-doc window counts, stat dict)."""
        nw = -(-doc_len // width)  # ceil
        base1 = np.concatenate(([0], np.cumsum(nw)[:-1]))
        total_w = int(nw.sum())
        widx = np.arange(total_w, dtype=np.int64) - np.repeat(base1, nw)
        starts = np.repeat(doc_base, nw) + widx * width
        ends = np.minimum(starts + width, np.repeat(doc_base + doc_len, nw))
        return nw, {
            "window_start": widx * width,
            "t_min": np.minimum.reduceat(flat_i32, starts) if total_w else flat_i32[:0],
            "t_max": np.maximum.reduceat(flat_i32, starts) if total_w else flat_i32[:0],
            "t_sum": np.add.reduceat(flat_i32.astype(np.int64), starts)
            if total_w
            else np.empty(0, dtype=np.int64),
            "t_cnt": ends - starts,
            "t_last": flat_i32[ends - 1] if total_w else flat_i32[:0],
        }

    def batch_merge(r, nw_prev, fo, width):
        """Tier k -> k+1 over the whole batch: reduceat on the concatenated
        tier-k window arrays with per-doc boundaries (min∘min, Σ∘Σ, ...)."""
        nw = -(-nw_prev // fo)
        basep = np.concatenate(([0], np.cumsum(nw_prev)[:-1]))
        base1 = np.concatenate(([0], np.cumsum(nw)[:-1]))
        widx = np.arange(int(nw.sum()), dtype=np.int64) - np.repeat(base1, nw)
        starts = np.repeat(basep, nw) + widx * fo
        ends = np.minimum(starts + fo, np.repeat(basep + nw_prev, nw))
        return nw, {
            "window_start": widx * width,
            "t_min": np.minimum.reduceat(r["t_min"], starts),
            "t_max": np.maximum.reduceat(r["t_max"], starts),
            "t_sum": np.add.reduceat(r["t_sum"], starts),
            "t_cnt": np.add.reduceat(r["t_cnt"], starts),
            "t_last": r["t_last"][ends - 1],
        }

    cols = ["window_start", "t_min", "t_max", "t_sum", "t_cnt", "t_last"]

    @worker_kernel
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            toks = [np.asarray(t, dtype=np.int32) for t in pdf["tokens"]]
            doc_len = np.array([a.size for a in toks], dtype=np.int64)
            keep = doc_len > 0
            if not keep.all():
                toks = [a for a, k in zip(toks, keep) if k]
                doc_len = doc_len[keep]
            if not len(toks):
                continue
            doc_np = pdf["doc_id"].to_numpy()[keep] if not keep.all() else pdf["doc_id"].to_numpy()
            src_np = pdf["source"].to_numpy()[keep] if not keep.all() else pdf["source"].to_numpy()
            flat = np.concatenate(toks)
            doc_base = np.concatenate(([0], np.cumsum(doc_len)[:-1]))
            acc: dict[str, list] = {c: [] for c in ["doc_id", "source", "tier", *cols]}
            nw, r = batch_rollup(flat, doc_base, doc_len, widths[0])
            for k in range(1, tiers + 1):
                if k > 1:
                    nw, r = batch_merge(r, nw, fanout, widths[k - 1])
                acc["doc_id"].append(np.repeat(doc_np, nw))
                acc["source"].append(np.repeat(src_np, nw))
                acc["tier"].append(np.full(int(nw.sum()), k, dtype=np.int32))
                for c in cols:
                    acc[c].append(r[c])
            out = {c: np.concatenate(v) for c, v in acc.items()}
            out["t_cnt"] = out["t_cnt"].astype(np.int64)
            out["t_mean"] = out["t_sum"] / out["t_cnt"]
            yield pd.DataFrame(out)

    return df.filter(NONEMPTY).mapInPandas(kernel, schema=TIER_SCHEMA)


def rollup_long(
    df_long: DataFrame,
    w: int = DEFAULT_W,
    tier: int = 1,
    value: str = "value",
) -> DataFrame:
    """Tumbling rollup over long format (doc_id, source, offset, value).

    The shuffle path (one exchange on (doc_id, window)); Spark's partial
    hash aggregation combines map-side so the exchange carries only window
    rows, not samples. Used after gap-fill and as a cross-check of the
    narrow paths.

    t_sum keeps the value column's native numeric family: integral inputs
    sum as long (exact); floating inputs (e.g. linear gap-fill output) sum
    as double — casting those to long per row would silently truncate.
    """
    integral = dict(df_long.dtypes).get(value) in ("tinyint", "smallint", "int", "bigint")
    sum_col = F.sum(F.col(value).cast("long" if integral else "double")).alias("t_sum")
    win = (F.col("offset") / F.lit(w)).cast("long")
    g = (
        df_long.filter(F.col(value).isNotNull())
        .groupBy("doc_id", "source", (win * w).alias("window_start"))
        .agg(
            F.min(value).alias("t_min"),
            F.max(value).alias("t_max"),
            sum_col,
            F.count(value).alias("t_cnt"),
            F.max_by(value, "offset").alias("t_last"),
        )
    )
    return g.select(
        "doc_id",
        "source",
        F.lit(tier).cast("int").alias("tier"),
        "window_start",
        "t_min",
        "t_max",
        "t_sum",
        "t_cnt",
        "t_last",
        (F.col("t_sum").cast("double") / F.col("t_cnt").cast("double")).alias("t_mean"),
    )


def cascade_from_tier(
    tier_df: DataFrame,
    from_tier: int,
    w: int = DEFAULT_W,
    fanout: int = DEFAULT_FANOUT,
) -> DataFrame:
    """Re-aggregate tier k rows into tier k+1 rows via groupBy.

    The relational form of the partial-agg identities — used by the
    incremental/checkpointed job where tier k already sits in storage.
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


def full_windows_only(tier_df: DataFrame, w: int = DEFAULT_W, fanout: int = DEFAULT_FANOUT) -> DataFrame:
    """The reference's full-windows-only mode (caits/windowing.py:40-44):
    drop ragged tails — a post-filter thanks to exact t_cnt."""
    widths = F.lit(w) * F.pow(F.lit(fanout), F.col("tier") - 1).cast("long")
    return tier_df.filter(F.col("t_cnt") == widths)


Strategy = Literal["native", "pandas"]


def cascade(df: DataFrame, strategy: Strategy = "native", **kw) -> DataFrame:
    if strategy == "native":
        return cascade_native(df, **kw)
    if strategy == "pandas":
        return cascade_pandas(df, **kw)
    raise ValueError(f"unknown strategy {strategy!r}")


def rollup_histogram(
    df: DataFrame, w: int = DEFAULT_W, n_buckets: int = 16, vmax: int = 1104
) -> DataFrame:
    """Mergeable fixed-boundary histogram rollup: per tumbling window of
    ``w`` tokens, the count in each of ``n_buckets`` equal-width value
    buckets over [0, vmax) — the continuous-aggregate companion to
    min/max/sum/count that supports approximate quantiles AT ANY TIER,
    because fixed-boundary histograms re-aggregate exactly (tier k+1 =
    elementwise sum of children; see :func:`histogram_merge`).

    Integer-exact (bucket = min(tok*n_buckets // vmax, n_buckets-1)).
    Output: (doc_id, window_start, b0..b{n-1}, total, median_bucket) where
    median_bucket is the first bucket whose cumulative count reaches half
    the window total.

    One np.bincount pass per doc (window*nb + bucket as the flat key) in
    mapInPandas: per-token cost is O(1) whatever n_buckets is, where a
    native higher-order-function fold pays O(n_buckets) interpreted lambda
    work per token (measured ~4x wall between nb=16 and nb=64 on 515 M
    tokens). Narrow, no shuffle: raw tokens never cross an exchange."""

    @worker_kernel
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bcols = [f"b{b}" for b in range(n_buckets)]
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in
                                    ["doc_id", "window_start", *bcols, "total", "median_bucket"]}
            for row in pdf.itertuples(index=False):
                toks = np.asarray(row.tokens, dtype=np.int64)
                n = toks.size
                if n == 0:
                    continue
                nw = -(-n // w)
                bid = np.minimum(toks * n_buckets // vmax, n_buckets - 1)
                flat = (np.arange(n) // w) * n_buckets + bid
                counts = np.bincount(flat, minlength=nw * n_buckets).reshape(nw, n_buckets)
                total = counts.sum(axis=1)
                med = (np.cumsum(counts, axis=1) * 2 < total[:, None]).sum(axis=1)
                out["doc_id"].append(np.repeat(row.doc_id, nw))
                out["window_start"].append(np.arange(nw, dtype=np.int64) * w)
                for b in range(n_buckets):
                    out[bcols[b]].append(counts[:, b].astype(np.int64))
                out["total"].append(total.astype(np.int64))
                out["median_bucket"].append(med.astype(np.int64))
            if out["doc_id"]:
                yield pd.DataFrame({c: np.concatenate(v) for c, v in out.items()})

    schema = "doc_id string, window_start long, " + ", ".join(
        f"b{b} long" for b in range(n_buckets)
    ) + ", total long, median_bucket long"
    return (
        df.filter(NONEMPTY)
        .select(F.col("doc_id").cast("string").alias("doc_id"), "tokens")
        .mapInPandas(kernel, schema=schema)
    )


def histogram_merge(
    t1: DataFrame, w: int, fanout: int, n_buckets: int = 16
) -> DataFrame:
    """Tier k+1 histograms from tier k rows: elementwise bucket-count sums
    per parent window — the exact re-aggregation identity (equals
    rollup_histogram run directly on raw at width w*fanout; tested)."""
    width2 = w * fanout
    ws2 = (F.col("window_start") - F.col("window_start") % width2).alias("window_start")
    agg = [F.sum(f"b{b}").alias(f"b{b}") for b in range(n_buckets)]
    out = t1.groupBy("doc_id", ws2).agg(*agg)
    arr = "array(" + ", ".join(f"b{b}" for b in range(n_buckets)) + ")"
    total = " + ".join(f"b{b}" for b in range(n_buckets))
    med = (
        f"size(filter(transform(sequence(0, {n_buckets - 1}), "
        f"i -> aggregate(slice({arr}, 1, i + 1), cast(0 as bigint), (a, c) -> a + c)), "
        f"cum -> cum * 2 < total))"
    )
    return (
        out.withColumn("total", F.expr(total).cast("long"))
        .withColumn("median_bucket", F.expr(med).cast("long"))
    )
