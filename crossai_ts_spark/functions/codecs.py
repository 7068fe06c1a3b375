"""Gorilla XOR float64 codec + delta-of-delta integer codec.

Public-knowledge design: Pelkonen et al., "Gorilla: A Fast, Scalable,
In-Memory Time Series Database", VLDB 2015 (§4.1 timestamps, §4.2 values).

Values (float64, Gorilla §4.2):
  - first value: 64 raw bits
  - next: XOR with previous;
      xor == 0            -> '0'
      reusable block      -> '10' + meaningful bits (prev leading/length)
      new block           -> '11' + 5b leading-zeros + 6b (sig_len - 1)
                             + sig_len meaningful bits
    (leading zeros capped at 31 so they fit 5 bits)

Offsets / timestamps (int64, Gorilla §4.1 buckets, widened for generality):
  - first offset: 64 raw bits; then per point on delta-of-delta D:
      D == 0              -> '0'
      -63   <= D <= 64    -> '10'   + 7b  (D + 63)
      -255  <= D <= 256   -> '110'  + 9b  (D + 255)
      -2047 <= D <= 2048  -> '1110' + 12b (D + 2047)
      else                -> '1111' + 64 raw bits (zig-zag not needed)
  The second point's delta is stored as a full 64-bit value after the
  header (our streams are blocks, not 2-hour aligned windows).

Bit-pattern fidelity: NaN payloads, ±0.0, infs and denormals round-trip
bit-exactly (everything goes through uint64 views, never through float
arithmetic).

The Spark surface is ``compress_tiers`` / ``decompress_tiers``: one
``mapInPandas`` pass over rows sorted by (doc_id, tier, window_start)
inside each doc_id partition (SURVEY §4.3.3), so encoded blobs are
deterministic under any partitioning. The checkpointed job's bucket commit
(``plans/checkpoint.commit_bucket``) needs no sort: it encodes each doc's
tier windows in the batch the cascade made them in. Both build their rows
with :func:`encode_segments`. Every kernel makes one call per codec
per Arrow batch to the batch codecs in functions/codecs_fast.py, which
write bit for bit what the golden per-value encoders in oracle/codecs.py
write (the golden decoders are there too).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..workers import worker_kernel
from .codecs_fast import dod_decode_batch, dod_encode_batch, gorilla_decode_batch, gorilla_encode_batch

# --------------------------------------------------------- spark surface


def encode_segments(keys: dict[str, np.ndarray], window_start: np.ndarray, t_mean: np.ndarray,
                    n: np.ndarray) -> dict[str, np.ndarray]:
    """The segment columns of a batch of groups: one row per group.

    Group i is the next ``n[i]`` points of ``window_start`` / ``t_mean``,
    in window order; ``keys`` holds one value per group for each key column
    (``doc_id``, ``source`` and, where the tier is not in the path, ``tier``).
    One encode call per codec covers every group."""
    return {
        **keys,
        "n_points": n,
        "codec": np.repeat("gorilla+dod/v1", n.size),
        "ts_blob": dod_encode_batch(window_start.astype(np.int64, copy=False), n),
        "val_blob": gorilla_encode_batch(t_mean.astype(np.float64, copy=False), n),
    }


def compress_tiers(tier_df):
    """tier rows -> compressed segments of ``t_mean``, one per (doc_id, tier).

    Batched path: repartition on doc_id (one shuffle), sortWithinPartitions
    (doc_id, tier, window_start) for deterministic blobs, then a single
    mapInPandas kernel that finds the groups of each Arrow batch with numpy
    boundary detection and encodes all of them with one call per codec. A
    group split across Arrow batch boundaries is carried over to the next
    batch (the partition-level sort makes group rows contiguous).

    Blobs are bitwise-identical to oracle/codecs.compress_tiers_grouped
    (tested).
    """
    from ..schema import COMPRESSED_TIER_SCHEMA

    # spark.sql.shuffle.partitions tasks (the cluster-tuned knob), NOT a
    # 4x multiple of it: every Python task pays a fixed setup cost. An
    # empty mapInPandas task at local[4] (4-core VM) measured 0.32-0.39 s
    # before @worker_kernel stopped the per-task zip directory re-reads,
    # and 0.13-0.16 s after (32 tasks: 2.8-3.1 s -> 0.9-1.1 s). The old 4x
    # count measured 1.74 s vs 0.75 s at 1x on the sf0.1 tier table at
    # local[32]. An UNPINNED repartition("doc_id") is wrong in the other
    # direction: AQE's byte-based coalescing sees a few MB and folds the
    # stage to ~1 partition, serializing the encode (measured 4.2 s). Zipf
    # doc-length skew is bounded (a doc caps at 64 Ki tokens -> <=2048
    # tier-1 windows), so 1x cluster-width tasks don't straggle.
    partitions = int(tier_df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))

    def encode(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
        """The groups starting at rows ``starts`` of ``pdf`` -> segments."""
        n = np.diff(np.append(starts, len(pdf)))
        keys = {
            "doc_id": pdf["doc_id"].to_numpy()[starts],
            "source": pdf["source"].to_numpy()[starts],
            "tier": pdf["tier"].to_numpy()[starts].astype(np.int32),
        }
        return pd.DataFrame(encode_segments(keys, pdf["window_start"].to_numpy(), pdf["t_mean"].to_numpy(), n))

    @worker_kernel
    def kernel(batches):
        pend: pd.DataFrame | None = None
        for pdf in batches:
            if pend is not None:
                pdf = pd.concat([pend, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            doc, tier = pdf["doc_id"].to_numpy(), pdf["tier"].to_numpy()
            brk = np.nonzero((doc[1:] != doc[:-1]) | (tier[1:] != tier[:-1]))[0] + 1
            starts = np.concatenate(([0], brk))
            # hold back the trailing group: it may continue in the next batch
            pend = pdf.iloc[starts[-1]:]
            if starts.size > 1:
                yield encode(pdf.iloc[: starts[-1]], starts[:-1])
        if pend is not None and len(pend):
            yield encode(pend, np.zeros(1, dtype=np.int64))

    ordered = tier_df.repartition(partitions, "doc_id").sortWithinPartitions(
        "doc_id", "tier", "window_start"
    )
    return ordered.mapInPandas(kernel, schema=COMPRESSED_TIER_SCHEMA)


def decompress_tiers(seg_df):
    """Compressed segments -> (doc_id, source, tier, window_start, value) rows.

    One call per codec decodes all the segments of an Arrow batch; the
    output batch is assembled with np.repeat. A segment whose two blobs
    disagree on its point count raises ``ValueError`` naming it.
    """

    @worker_kernel
    def decode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            offs, n = dod_decode_batch(pdf["ts_blob"].tolist())
            vals, n_vals = gorilla_decode_batch(pdf["val_blob"].tolist())
            if not np.array_equal(n, n_vals):
                j = int(np.argmax(n != n_vals))
                raise ValueError(f"doc_id {pdf['doc_id'].iloc[j]!r} tier {pdf['tier'].iloc[j]}: "
                                 f"ts_blob holds {n[j]} points, val_blob {n_vals[j]}")
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), n),
                    "source": np.repeat(pdf["source"].to_numpy(), n),
                    "tier": np.repeat(pdf["tier"].to_numpy().astype(np.int32), n),
                    "window_start": offs,
                    "value": vals,
                }
            )

    schema = "doc_id string, source string, tier int, window_start long, value double"
    return seg_df.mapInPandas(decode, schema=schema)


# ------------------------------------------------- token round-trip codec


def _segment_sums(x: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Per-segment int64 sums (mod 2^64, like ``ndarray.sum``)."""
    c = np.concatenate(([0], np.cumsum(x, dtype=np.int64)))
    e = np.cumsum(lens)
    return c[e] - c[e - lens]


def tokens_roundtrip_sums(df):
    """Round-trip check + sums recomputed from the DECODED arrays.

    dec_sum / dec_wsum are computed from decode(encode(tokens)) — NOT from
    the input — so a cross-engine oracle that recomputes the same sums from
    the source text independently verifies the codec (any decode corruption
    shifts the sums; the position-weighted sum catches reorderings that a
    plain sum would miss). ``ok`` is per-doc array equality. Each Arrow
    batch makes one encode and one decode call.
    """

    @worker_kernel
    def check(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            toks = pdf["tokens"].tolist()
            lens = np.fromiter(map(len, toks), dtype=np.int64, count=len(toks))
            arr = np.concatenate(toks).astype(np.int64)
            dec, n = dod_decode_batch(dod_encode_batch(arr, lens))
            same = n == lens
            ok = same.copy()
            # element mismatches of every doc whose decoded length matches
            diff = arr[np.repeat(same, lens)] != dec[np.repeat(same, n)]
            ok[same] = _segment_sums(diff, lens[same]) == 0
            pos = np.arange(dec.size) - np.repeat(np.cumsum(n) - n, n) + 1
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "ok": ok,
                    "dec_sum": _segment_sums(dec, n),
                    "dec_wsum": _segment_sums(dec * pos, n),
                }
            )

    return df.mapInPandas(
        check, schema="doc_id string, ok boolean, dec_sum long, dec_wsum long"
    )
