"""Tumbling rollup + retention cascade.

Scale design (the part that matters at 10^12 sequences / 100 TB):

* Each doc's tokens live in ONE array cell, so every tier is computed
  WITHOUT any shuffle: :func:`cascade` is one narrow ``mapInPandas`` whose
  vectorized numpy kernel rolls up a whole Arrow batch at once. The raw
  tokens never cross an exchange.
* The cascade (tier k → k+1) is computed in the same kernel from tier k's
  windows: re-aggregation identities min∘min / max∘max / Σ∘Σ / Σcnt /
  last∘last. So the entire 3-tier rollup of 100 TB of tokens is one narrow
  map stage; only the (tiny) tier rows are ever shuffled — and only if a
  later op asks for it.
* :func:`cascade_batch` is the only tier rollup kernel: :func:`cascade`
  runs it per Arrow batch (bench.py times tier k as ``cascade(...,
  tiers=k)``), and so does the checkpointed job's bucket commit
  (``plans/checkpoint.commit_bucket``), which writes the tiers itself. The
  relational groupBy re-aggregation of a stored tier is a test reference
  in ``oracle/rollup.py``. ``operators/salted.py`` holds the salted
  two-phase rollup for skewed global keys.
* One tumbling-window layout, :func:`_window_layout`, serves every
  kernel: :func:`tumbling_rollup` (cascade's tier 1, and the streaming
  ``incremental_tier1`` on each trigger's full windows), cascade's tier
  merges, and :func:`rollup_histogram`'s window ids. Each kernel makes one
  pass per Arrow batch (per trigger and doc when streaming), never a
  Python loop over windows or docs.

Exactness: int64 sums of int32 tokens; mean = one float64 division
t_sum/t_cnt ⇒ bitwise-stable under any partitioning or tier path
(matches oracle/rollup.py).

Reference parity: tumbling-with-ragged-tail follows caits/windowing.py:188-202
(``create_chunks``); the aggregate set is the exact-stat subset of
caits/fe/_statistical.py (min :101, max :83, mean :49, length :161).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import DEFAULT_FANOUT, DEFAULT_TIERS, DEFAULT_W, TIER_SCHEMA, tier_width
from ..workers import worker_kernel

# Rows with tokens to roll up. Under ANSI ``size(null)`` is null, so null
# and empty arrays both drop here, whatever the row's ``n_tok`` says.
NONEMPTY = "size(tokens) > 0"

# rollup_histogram's window, bucket count and value ceiling (the ASCII
# band); the DuckDB oracle builds its SQL from the same values
HIST_W, HIST_NB, HIST_VMAX = 32, 16, 128


def _flat_tokens(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A batch's ``tokens`` arrays concatenated, with each row's first index
    and length in the concatenation. No dtype cast.

    Arrow hands a batch whose list child has nulls to pandas as float64
    arrays with NaN for the nulls; an int cast would turn each NaN into a
    silent wrong number, so a null element raises ``ValueError`` naming the
    row's ``doc_id``, as does a null ``tokens`` cell."""
    toks = pdf["tokens"].tolist()
    try:
        doc_len = np.fromiter(map(len, toks), dtype=np.int64, count=len(toks))
    except TypeError:
        doc = pdf["doc_id"].iloc[[t is None for t in toks].index(True)]
        raise ValueError(f"doc_id {doc!r}: tokens cell is null") from None
    flat = np.concatenate(toks)
    doc_base = np.concatenate(([0], np.cumsum(doc_len)[:-1]))
    if flat.dtype.kind == "f":
        nan = np.flatnonzero(np.isnan(flat))
        if nan.size:
            doc = pdf["doc_id"].iloc[np.searchsorted(doc_base, nan[0], side="right") - 1]
            raise ValueError(f"doc_id {doc!r}: tokens array holds a null element")
    return flat, doc_base, doc_len


def _window_layout(base: np.ndarray, length: np.ndarray, width: int):
    """The tumbling windows of adjacent runs, ragged tail included.

    Run i covers ``[base[i], base[i] + length[i])`` of one flat array;
    returns its window count ``nw[i]`` and, per window (run-major), its
    index within its run ``widx`` and its span ``[starts, ends)``."""
    nw = -(-length // width)  # ceil
    base1 = np.concatenate(([0], np.cumsum(nw)[:-1]))
    widx = np.arange(int(nw.sum()), dtype=np.int64) - np.repeat(base1, nw)
    starts = np.repeat(base, nw) + widx * width
    ends = np.minimum(starts + width, np.repeat(base + length, nw))
    return nw, widx, starts, ends


def tumbling_rollup(flat: np.ndarray, doc_base: np.ndarray, doc_len: np.ndarray,
                    w: int) -> tuple[np.ndarray, dict[str, np.ndarray]]:
    """Tier-1 stats of EVERY doc in one reduceat sweep.

    Docs are adjacent in ``flat``; each doc's windows tile it exactly, so
    the per-window start indices over the concatenation are strictly
    increasing and reduceat's left-fold segments match the per-doc kernel
    bit-for-bit (same adds in the same order). Stats keep ``flat``'s dtype
    (sums in int64). Returns (per-doc window counts, stat dict)."""
    nw, widx, starts, ends = _window_layout(doc_base, doc_len, w)
    return nw, {
        "window_start": widx * w,
        "t_min": np.minimum.reduceat(flat, starts),
        "t_max": np.maximum.reduceat(flat, starts),
        "t_sum": np.add.reduceat(flat.astype(np.int64), starts),
        "t_cnt": ends - starts,
        "t_last": flat[ends - 1],
    }


def tier_widths(w: int, fanout: int, tiers: int) -> list[int]:
    """The window width of each tier 1..``tiers``; ``w``, ``fanout`` or
    ``tiers`` below 1 raises ``ValueError`` naming the argument."""
    for name, v in (("w", w), ("fanout", fanout), ("tiers", tiers)):
        if v < 1:
            raise ValueError(f"{name} must be >= 1, got {v}")
    return [tier_width(k, w, fanout) for k in range(1, tiers + 1)]


def _merge_tier(r: dict[str, np.ndarray], nw_prev: np.ndarray, fanout: int,
                width: int) -> tuple[np.ndarray, dict[str, np.ndarray]]:
    """Tier k -> k+1 over the whole batch: reduceat on the concatenated
    tier-k window arrays with per-doc boundaries (min∘min, Σ∘Σ, ...)."""
    basep = np.concatenate(([0], np.cumsum(nw_prev)[:-1]))
    nw, widx, starts, ends = _window_layout(basep, nw_prev, fanout)
    return nw, {
        "window_start": widx * width,
        "t_min": np.minimum.reduceat(r["t_min"], starts),
        "t_max": np.maximum.reduceat(r["t_max"], starts),
        "t_sum": np.add.reduceat(r["t_sum"], starts),
        "t_cnt": np.add.reduceat(r["t_cnt"], starts),
        "t_last": r["t_last"][ends - 1],
    }


def cascade_batch(pdf: pd.DataFrame, widths: list[int],
                  fanout: int) -> Iterator[tuple[np.ndarray, dict[str, np.ndarray]]]:
    """The cascade of one batch of non-empty ``sequences`` rows, tier by tier.

    Yields per tier (1 first) each row's window count and the tier's
    :data:`~crossai_ts_spark.schema.TIER_SCHEMA` columns. A row's windows
    are contiguous and in ``window_start`` order within its tier. Tier 1 is
    reduceat over the raw tokens; tier k+1 merges tier k's arrays, so the
    raw tokens are scanned once. A null element raises ``ValueError``
    naming the doc."""
    flat, doc_base, doc_len = _flat_tokens(pdf)
    flat = flat.astype(np.int32, copy=False)
    doc_np, src_np = pdf["doc_id"].to_numpy(), pdf["source"].to_numpy()
    nw, r = tumbling_rollup(flat, doc_base, doc_len, widths[0])
    for k, width in enumerate(widths, start=1):
        if k > 1:
            nw, r = _merge_tier(r, nw, fanout, width)
        yield nw, {
            "doc_id": np.repeat(doc_np, nw),
            "source": np.repeat(src_np, nw),
            "tier": np.full(int(nw.sum()), k, dtype=np.int32),
            **r,
            "t_mean": r["t_sum"] / r["t_cnt"],
        }


def cascade(
    df: DataFrame,
    w: int = DEFAULT_W,
    fanout: int = DEFAULT_FANOUT,
    tiers: int = DEFAULT_TIERS,
    *,
    strategy: str = "pandas",
) -> DataFrame:
    """All tiers via one vectorized numpy kernel in mapInPandas (Arrow).

    Each Arrow batch goes through :func:`cascade_batch` and its tiers are
    concatenated into one output batch, assembled per batch, not per doc.
    Tier 1 alone is ``cascade(df, w=w, tiers=1)``.

    Rows with null or empty ``tokens`` drop (:data:`NONEMPTY`); windows are
    counted from the array, never from ``n_tok``. A null element inside an
    array raises ``ValueError`` naming the doc. ``w``, ``fanout`` or
    ``tiers`` below 1 raises ``ValueError`` naming the argument when the
    plan is built.

    ``strategy`` accepts only ``"pandas"``: the benchmark under
    ``perfbench/`` still passes it, and it goes once that call drops it.
    """
    if strategy != "pandas":
        raise ValueError(f"unknown strategy {strategy!r}")
    widths = tier_widths(w, fanout, tiers)

    @worker_kernel
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            per_tier = [cols for _, cols in cascade_batch(pdf, widths, fanout)]
            yield pd.DataFrame({c: np.concatenate([t[c] for t in per_tier]) for c in per_tier[0]})

    return df.filter(NONEMPTY).mapInPandas(kernel, schema=TIER_SCHEMA)


def rollup_histogram(df: DataFrame) -> DataFrame:
    """Mergeable fixed-boundary histogram rollup: per tumbling window of
    w = HIST_W tokens, the count in each of n_buckets = HIST_NB equal-width
    value buckets over [0, vmax = HIST_VMAX) — the continuous-aggregate
    companion to min/max/sum/count that supports approximate quantiles AT
    ANY TIER, because fixed-boundary histograms re-aggregate exactly (tier
    k+1 = elementwise sum of children).

    Integer-exact (bucket = min(tok*n_buckets // vmax, n_buckets-1)).
    Output: (doc_id, window_start, b0..b{n-1}, total, median_bucket) where
    median_bucket is the first bucket whose cumulative count reaches half
    the window total.

    One np.bincount pass per Arrow batch over global window id * n_buckets
    + bucket, with the windows laid out as in :func:`cascade`: per-token
    cost is O(1) whatever n_buckets is, where a native
    higher-order-function fold pays O(n_buckets) interpreted lambda work
    per token (measured ~4x wall between nb=16 and nb=64 on 515 M tokens).
    Narrow, no shuffle: raw tokens never cross an exchange. A null element
    inside an array raises ``ValueError`` naming the doc."""
    # the kernel runs in Python workers: it closes over these locals, read
    # while the plan is built, so a test may monkeypatch the constants
    w, n_buckets, vmax = HIST_W, HIST_NB, HIST_VMAX

    @worker_kernel
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            flat, doc_base, doc_len = _flat_tokens(pdf)
            nw, widx, starts, ends = _window_layout(doc_base, doc_len, w)
            gw = np.repeat(np.arange(widx.size), ends - starts)
            bid = np.minimum(flat.astype(np.int64) * n_buckets // vmax, n_buckets - 1)
            counts = np.bincount(gw * n_buckets + bid,
                                 minlength=widx.size * n_buckets).reshape(-1, n_buckets)
            total = counts.sum(axis=1)
            out = {"doc_id": np.repeat(pdf["doc_id"].to_numpy(), nw),
                   "window_start": widx * w}
            out.update({f"b{b}": counts[:, b] for b in range(n_buckets)})
            out["total"] = total
            out["median_bucket"] = (np.cumsum(counts, axis=1) * 2 < total[:, None]).sum(axis=1)
            yield pd.DataFrame(out)

    schema = "doc_id string, window_start long, " + ", ".join(
        f"b{b} long" for b in range(n_buckets)
    ) + ", total long, median_bucket long"
    return (
        df.filter(NONEMPTY)
        .select(F.col("doc_id").cast("string").alias("doc_id"), "tokens")
        .mapInPandas(kernel, schema=schema)
    )
