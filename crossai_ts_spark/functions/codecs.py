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
deterministic under any partitioning. The encoders are the vectorized
ones in functions/codecs_fast.py; the golden per-value encoders they
must match bit for bit are in oracle/codecs.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..workers import worker_kernel
from .codecs_fast import dod_decode_fast, dod_encode_fast, gorilla_encode_fast

# ------------------------------------------------------------------ bits


class BitReader:
    """MSB-first bit stream reader."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def read(self, nbits: int) -> int:
        if nbits == 0:
            return 0
        end = self.pos + nbits
        first_byte = self.pos >> 3
        last_byte = (end + 7) >> 3
        chunk = int.from_bytes(self.data[first_byte:last_byte], "big")
        total_bits = (last_byte - first_byte) * 8
        chunk >>= total_bits - (end - first_byte * 8)
        self.pos = end
        return chunk & ((1 << nbits) - 1)


# ------------------------------------------------------------ gorilla f64


def gorilla_decode(blob: bytes) -> np.ndarray:
    r = BitReader(blob)
    n = r.read(64)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    cur = r.read(64)
    out[0] = cur
    lead, sig = 0, 0
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = cur
            continue
        if r.read(1) == 0:  # '10': reuse block
            mean_bits = r.read(sig)
            x = mean_bits << (64 - lead - sig)
        else:  # '11': new block
            lead = r.read(5)
            sig = r.read(6) + 1
            mean_bits = r.read(sig)
            x = mean_bits << (64 - lead - sig)
        cur ^= x
        out[i] = cur
    return out.view(np.float64)


# --------------------------------------------------------- spark surface


def compress_tiers(tier_df):
    """tier rows -> compressed segments of ``t_mean``, one per (doc_id, tier).

    Batched path: repartition on doc_id (one shuffle), sortWithinPartitions
    (doc_id, tier, window_start) for deterministic blobs, then a single
    mapInPandas kernel that slices groups out of each Arrow batch with
    numpy boundary detection — no per-group pandas materialization. Groups
    split across Arrow batch boundaries are carried over and merged (the
    partition-level sort makes group rows contiguous).

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

    @worker_kernel
    def kernel(batches):
        pend: pd.DataFrame | None = None

        def encode_block(pdf: pd.DataFrame):
            doc_np = pdf["doc_id"].to_numpy()
            tier_np = pdf["tier"].to_numpy()
            src_np = pdf["source"].to_numpy()
            keys = (pdf["doc_id"].astype(str) + "\x1f" + pdf["tier"].astype(str)).to_numpy()
            brk = np.nonzero(keys[1:] != keys[:-1])[0] + 1
            bounds = np.concatenate(([0], brk, [len(pdf)]))
            offs_all = pdf["window_start"].to_numpy(dtype=np.int64)
            vals_all = pdf["t_mean"].to_numpy(dtype=np.float64)
            starts, ends = bounds[:-1], bounds[1:]
            # columnar assembly: per-group work is just the two encoders
            # (no per-group pandas scalar lookups / row tuples)
            return pd.DataFrame(
                {
                    "doc_id": doc_np[starts],
                    "source": src_np[starts],
                    "tier": tier_np[starts].astype(np.int32),
                    "n_points": (ends - starts).astype(np.int64),
                    "codec": np.repeat("gorilla+dod/v1", starts.size),
                    "ts_blob": [dod_encode_fast(offs_all[s:e]) for s, e in zip(starts, ends)],
                    "val_blob": [gorilla_encode_fast(vals_all[s:e]) for s, e in zip(starts, ends)],
                }
            )

        for pdf in batches:
            if pend is not None:
                pdf = pd.concat([pend, pdf], ignore_index=True)
                pend = None
            if len(pdf) == 0:
                continue
            # hold back the trailing group: it may continue in the next batch
            last_doc = pdf["doc_id"].iloc[-1]
            last_tier = pdf["tier"].iloc[-1]
            tail_mask = (pdf["doc_id"] == last_doc) & (pdf["tier"] == last_tier)
            # rows are sorted, so the tail group is a contiguous suffix
            split = len(pdf) - int(tail_mask.to_numpy()[::-1].argmin()) if not tail_mask.all() else 0
            pend = pdf.iloc[split:].copy()
            head = pdf.iloc[:split]
            if len(head):
                yield encode_block(head)
        if pend is not None and len(pend):
            yield encode_block(pend)

    ordered = tier_df.repartition(partitions, "doc_id").sortWithinPartitions(
        "doc_id", "tier", "window_start"
    )
    return ordered.mapInPandas(kernel, schema=COMPRESSED_TIER_SCHEMA)


def decompress_tiers(seg_df):
    """Compressed segments -> (doc_id, source, tier, window_start, value) rows.

    Per-segment work is just the two decoders (offsets via the vectorized
    dod_decode_fast — bit-identical to the golden decoder, tested); the
    output batch is assembled once per Arrow batch with np.repeat /
    np.concatenate instead of one pandas frame per segment.
    """

    @worker_kernel
    def decode(batches):
        for pdf in batches:
            offs_l = [dod_decode_fast(bytes(b)) for b in pdf["ts_blob"]]
            vals_l = [gorilla_decode(bytes(b)) for b in pdf["val_blob"]]
            if not offs_l:
                continue
            n = np.array([o.size for o in offs_l], dtype=np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), n),
                    "source": np.repeat(pdf["source"].to_numpy(), n),
                    "tier": np.repeat(pdf["tier"].to_numpy().astype(np.int32), n),
                    "window_start": np.concatenate(offs_l),
                    "value": np.concatenate(vals_l),
                }
            )

    schema = "doc_id string, source string, tier int, window_start long, value double"
    return seg_df.mapInPandas(decode, schema=schema)


# ------------------------------------------------- token round-trip codec


def tokens_roundtrip_sums(df):
    """Round-trip check + sums recomputed from the DECODED arrays.

    dec_sum / dec_wsum are computed from decode(encode(tokens)) — NOT from
    the input — so a cross-engine oracle that recomputes the same sums from
    the source text independently verifies the codec (any decode corruption
    shifts the sums; the position-weighted sum catches reorderings that a
    plain sum would miss).
    """

    @worker_kernel
    def check(batches):
        for pdf in batches:
            oks, sums, wsums = [], [], []
            for toks in pdf["tokens"]:
                arr = np.asarray(toks, dtype=np.int64)
                rt = dod_decode_fast(dod_encode_fast(arr))
                oks.append(bool(np.array_equal(rt, arr)))
                sums.append(int(rt.sum()))
                wsums.append(int((rt * np.arange(1, len(rt) + 1)).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "ok": oks,
                    "dec_sum": np.asarray(sums, dtype=np.int64),
                    "dec_wsum": np.asarray(wsums, dtype=np.int64),
                }
            )

    return df.mapInPandas(
        check, schema="doc_id string, ok boolean, dec_sum long, dec_wsum long"
    )
