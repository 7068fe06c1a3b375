"""Golden per-value codec encoders/decoders and the per-group compress plan.

The parity reference for functions/codecs.py and functions/codecs_fast.py:
tests require the production blobs to equal these bit for bit. No query,
job or stream runs them. The bit streams and the format are documented in
functions/codecs.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions.codecs import BitReader, BitWriter, dod_encode
from ..workers import worker_kernel


def gorilla_encode(values: np.ndarray) -> bytes:
    """Encode float64 array -> bytes (header: 8-byte big-endian count)."""
    values = np.ascontiguousarray(values, dtype=np.float64)
    bits = values.view(np.uint64)
    n = values.size
    w = BitWriter()
    w.write(n, 64)
    if n == 0:
        return w.getvalue()
    prev = int(bits[0])
    w.write(prev, 64)
    # vectorized precompute of xors + leading/trailing zero counts
    if n > 1:
        xors = bits[1:] ^ bits[:-1]
        prev_lead, prev_sig = -1, -1
        for x in map(int, xors):
            if x == 0:
                w.write(0, 1)
                continue
            lead = min(64 - x.bit_length(), 31)
            trail = (x & -x).bit_length() - 1
            sig = 64 - lead - trail
            prev_trail = 64 - prev_lead - prev_sig
            if prev_lead >= 0 and lead >= prev_lead and trail >= prev_trail:
                # reuse previous block: '10' + prev_sig bits
                w.write(0b10, 2)
                w.write(x >> (64 - prev_lead - prev_sig), prev_sig)
            else:
                w.write(0b11, 2)
                w.write(lead, 5)
                w.write(sig - 1, 6)
                w.write(x >> trail, sig)
                prev_lead, prev_sig = lead, sig
    return w.getvalue()


def _toi64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def dod_decode(blob: bytes) -> np.ndarray:
    r = BitReader(blob)
    n = r.read(64)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    mask = (1 << 64) - 1
    cur = r.read(64)  # kept unsigned mod 2^64 (wrap-consistent with encoder)
    out[0] = _toi64(cur)
    if n == 1:
        return out
    delta = r.read(64)
    for i in range(1, n):
        if i > 1:
            if r.read(1) == 1:
                if r.read(1) == 0:
                    d = r.read(7) - 63
                elif r.read(1) == 0:
                    d = r.read(9) - 255
                elif r.read(1) == 0:
                    d = r.read(12) - 2047
                else:
                    d = r.read(64)
                delta = (delta + d) & mask
        cur = (cur + delta) & mask
        out[i] = _toi64(cur)
    return out


def compress_group(pdf: pd.DataFrame, value_col: str = "t_mean") -> pd.DataFrame:
    """One (doc_id, tier) group -> one compressed-segment row.

    Sorts by window_start inside the group (secondary sort) so the blob is
    identical under any shuffle/partitioning.
    """
    pdf = pdf.sort_values("window_start")
    offs = pdf["window_start"].to_numpy(dtype=np.int64)
    vals = pdf[value_col].to_numpy(dtype=np.float64)
    return pd.DataFrame(
        {
            "doc_id": [pdf["doc_id"].iloc[0]],
            "source": [pdf["source"].iloc[0]],
            "tier": [np.int32(pdf["tier"].iloc[0])],
            "n_points": [np.int64(len(pdf))],
            "codec": ["gorilla+dod/v1"],
            "ts_blob": [dod_encode(offs)],
            "val_blob": [gorilla_encode(vals)],
        }
    )


def compress_tiers_grouped(tier_df, value_col: str = "t_mean"):
    """Reference implementation: one applyInPandas call per (doc_id, tier).

    Correct but slow at scale — Spark materializes a pandas DataFrame PER
    GROUP (~180k tiny frames for 60k docs x 3 tiers); use compress_tiers."""
    from ..schema import COMPRESSED_TIER_SCHEMA

    return tier_df.groupBy("doc_id", "tier").applyInPandas(
        worker_kernel(lambda pdf: compress_group(pdf, value_col)), schema=COMPRESSED_TIER_SCHEMA
    )
