"""Golden per-value codec encoders/decoders and the per-group compress plan.

The parity reference for functions/codecs.py and functions/codecs_fast.py:
tests require the production blobs to equal these bit for bit, and the
batch decoders to invert them. No query, job or stream runs them. The bit streams and the format are documented in
functions/codecs.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..workers import worker_kernel


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


class BitWriter:
    """Append-only bit stream (MSB-first within each byte)."""

    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0  # bit accumulator (int)
        self.nbits = 0  # bits currently in acc

    def write(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def getvalue(self) -> bytes:
        out = bytearray(self.buf)
        if self.nbits:
            out.append((self.acc << (8 - self.nbits)) & 0xFF)
        return bytes(out)


# -------------------------------------------------------- delta-of-delta


def dod_encode(offsets: np.ndarray) -> bytes:
    """Encode int64 array -> bytes (header: count, first, first delta)."""
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    n = offsets.size
    w = BitWriter()
    w.write(n, 64)
    if n == 0:
        return w.getvalue()
    w.write(int(offsets[0]) & ((1 << 64) - 1), 64)
    if n == 1:
        return w.getvalue()
    # deltas in Python ints (mod-2^64 consistent with the decoder) so
    # adjacent values near ±2^62 can't overflow an int64 diff
    py = [int(v) for v in offsets]
    deltas = [b - a for a, b in zip(py, py[1:])]
    w.write(deltas[0] & ((1 << 64) - 1), 64)
    dods = [b - a for a, b in zip(deltas, deltas[1:])]
    for d in dods:
        if d == 0:
            w.write(0, 1)
        elif -63 <= d <= 64:
            w.write(0b10, 2)
            w.write(d + 63, 7)
        elif -255 <= d <= 256:
            w.write(0b110, 3)
            w.write(d + 255, 9)
        elif -2047 <= d <= 2048:
            w.write(0b1110, 4)
            w.write(d + 2047, 12)
        else:
            w.write(0b1111, 4)
            w.write(d & ((1 << 64) - 1), 64)
    return w.getvalue()


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
