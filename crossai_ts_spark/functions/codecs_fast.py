"""Vectorized Gorilla / delta-of-delta codecs — bit-identical to the
reference (golden) encoders in oracle/codecs.py, but numpy-vectorized:
the golden path writes ~10 Python-level ops per VALUE; this path does a
constant number of numpy passes per ARRAY.

Pieces:
  * pack_bits      variable-length bit fields -> MSB-first byte stream
                   (cumsum offsets, <=2 uint64-slot contributions per field,
                   bitwise_or.reduceat combine — no Python loop)
  * bit_length64 / ctz64   16-bit-LUT leading/trailing bit math
  * gorilla_encode_fast    XOR classify + block-reuse state machine; the
                   only sequential part (state changes) runs one numpy
                   scan PER NEW BLOCK over just its reuse run (amortized
                   O(n)), everything else is vectorized
  * dod_encode_fast        bucket-classify all dods in one pass
  * dod_decode_fast        vectorized field-boundary discovery by pointer
                   doubling over local field lengths, then gather+mask

All are verified bit-identical to the golden encoders by
tests/test_codecs_fast.py (random walks, NaN payloads, ±0, infs,
denormals, int64 extremes, hypothesis sweeps).
"""

from __future__ import annotations

import numpy as np

# --------------------------------------------------------------- bit LUTs

_BL16 = np.concatenate(
    [[0], (np.floor(np.log2(np.arange(1, 1 << 16))) + 1).astype(np.uint8)]
)


def bit_length64(x: np.ndarray) -> np.ndarray:
    """Vectorized int.bit_length for uint64."""
    x = x.astype(np.uint64, copy=False)
    b3 = _BL16[(x >> np.uint64(48)).astype(np.int64)]
    b2 = _BL16[((x >> np.uint64(32)) & np.uint64(0xFFFF)).astype(np.int64)]
    b1 = _BL16[((x >> np.uint64(16)) & np.uint64(0xFFFF)).astype(np.int64)]
    b0 = _BL16[(x & np.uint64(0xFFFF)).astype(np.int64)]
    out = np.where(b3 > 0, b3.astype(np.int64) + 48,
          np.where(b2 > 0, b2.astype(np.int64) + 32,
          np.where(b1 > 0, b1.astype(np.int64) + 16, b0.astype(np.int64))))
    return out


def ctz64(x: np.ndarray) -> np.ndarray:
    """Trailing zeros of uint64 (undefined for 0 — callers mask)."""
    x = x.astype(np.uint64, copy=False)
    low = x & (~x + np.uint64(1))
    return bit_length64(low) - 1


# --------------------------------------------------------------- packer


def pack_bits(vals: np.ndarray, nbits: np.ndarray) -> bytes:
    """Pack fields (vals[i] in nbits[i] bits, MSB-first) into bytes.

    Exactly matches oracle/codecs.BitWriter: values masked to width, stream padded with
    zeros to a byte boundary. nbits in [0, 64]; zero-width fields allowed.
    """
    vals = vals.astype(np.uint64, copy=False)
    nbits = nbits.astype(np.int64, copy=False)
    keep = nbits > 0
    if not keep.all():
        vals, nbits = vals[keep], nbits[keep]
    if vals.size == 0:
        return b""
    # mask to declared width (shift arg clamped: <<64 is UB in numpy)
    shift_arg = np.where(nbits >= 64, 0, nbits).astype(np.uint64)
    mask = np.where(nbits >= 64, np.uint64(0xFFFFFFFFFFFFFFFF),
                    (np.uint64(1) << shift_arg) - np.uint64(1))
    vals = vals & mask
    ends = np.cumsum(nbits)
    offs = ends - nbits
    total = int(ends[-1])
    n_slots = (total + 63) >> 6
    slot = (offs >> 6).astype(np.int64)
    r = (offs & 63).astype(np.int64)
    right = r + nbits  # bit index (within slot) one past the field end
    over = np.maximum(right - 64, 0).astype(np.uint64)
    lsh = np.where(right <= 64, 64 - right, 0).astype(np.uint64)
    c0 = np.where(right <= 64, vals << lsh, vals >> over)
    has_ov = right > 64
    # contributions in (slot-major, field-order) sequence: interleave c0 and
    # overflow parts; both streams are nondecreasing in slot index
    if has_ov.any():
        ov_vals = (vals[has_ov] << (np.uint64(64) - over[has_ov]))
        all_slots = np.concatenate([slot, slot[has_ov] + 1])
        all_contrib = np.concatenate([c0, ov_vals])
        order = np.argsort(all_slots, kind="stable")
        all_slots = all_slots[order]
        all_contrib = all_contrib[order]
    else:
        all_slots, all_contrib = slot, c0
    out = np.zeros(n_slots, dtype=np.uint64)
    # combine contributions per slot: boundaries where slot changes
    starts = np.nonzero(np.concatenate(([True], all_slots[1:] != all_slots[:-1])))[0]
    combined = np.bitwise_or.reduceat(all_contrib, starts)
    out[all_slots[starts]] = combined
    by = out.byteswap().view(np.uint8)  # big-endian per slot == MSB-first
    return by[: (total + 7) >> 3].tobytes()


# --------------------------------------------------------------- gorilla


def gorilla_encode_fast(values: np.ndarray) -> bytes:
    """Bit-identical to oracle/codecs.gorilla_encode, vectorized."""
    values = np.ascontiguousarray(values, dtype=np.float64)
    bits = values.view(np.uint64)
    n = values.size
    head_v = np.empty(2, dtype=np.uint64)
    head_b = np.array([64, 64], dtype=np.int64)
    head_v[0] = np.uint64(n)
    if n == 0:
        return pack_bits(head_v[:1], head_b[:1])
    head_v[1] = bits[0]
    if n == 1:
        return pack_bits(head_v, head_b)
    x = bits[1:] ^ bits[:-1]
    m = x.size
    nz = x != 0
    lead = np.zeros(m, dtype=np.int64)
    trail = np.zeros(m, dtype=np.int64)
    if nz.any():
        xl = x[nz]
        lead_nz = np.minimum(64 - bit_length64(xl), 31)
        trail_nz = ctz64(xl)
        lead[nz] = lead_nz
        trail[nz] = trail_nz
    sig = 64 - lead - trail
    # ---- block-reuse state machine over the nonzero subsequence ----
    idx = np.nonzero(nz)[0]
    is_new = np.zeros(m, dtype=bool)
    if idx.size:
        ln, tn = lead[idx], trail[idx]
        new_flags = np.zeros(idx.size, dtype=bool)
        p = 0
        k = idx.size
        while p < k:
            new_flags[p] = True
            L, T = ln[p], tn[p]
            # scan forward for the first failure in growing chunks
            q = p + 1
            step = 64
            nxt = k
            while q < k:
                hi = min(q + step, k)
                fail = (ln[q:hi] < L) | (tn[q:hi] < T)
                j = int(np.argmax(fail))
                if fail[j]:
                    nxt = q + j
                    break
                q = hi
                step *= 4
            p = nxt
        is_new[idx] = new_flags
    # state (lead, sig) active at each position = values at last new block
    blk = np.where(is_new, np.arange(m), -1)
    blk = np.maximum.accumulate(blk)  # -1 only before the first nonzero
    safe = np.maximum(blk, 0)
    st_lead = lead[safe]
    st_sig = sig[safe]
    # ---- field emission: 2 slots per element ----
    fv = np.zeros((m, 2), dtype=np.uint64)
    fb = np.zeros((m, 2), dtype=np.int64)
    # zeros: single '0' bit
    z = ~nz
    fb[z, 0] = 1  # value stays 0
    reuse = nz & ~is_new
    if reuse.any():
        ps = st_sig[reuse]
        pl = st_lead[reuse]
        shift = (np.int64(64) - pl - ps).astype(np.uint64)
        fv[reuse, 0] = np.uint64(0b10)
        fb[reuse, 0] = 2
        fv[reuse, 1] = x[reuse] >> shift
        fb[reuse, 1] = ps
    if is_new.any():
        l_, s_, t_ = lead[is_new], sig[is_new], trail[is_new]
        hdr = (np.uint64(0b11) << np.uint64(11)) | (
            l_.astype(np.uint64) << np.uint64(6)
        ) | (s_ - 1).astype(np.uint64)
        fv[is_new, 0] = hdr
        fb[is_new, 0] = 13
        fv[is_new, 1] = x[is_new] >> t_.astype(np.uint64)
        fb[is_new, 1] = s_
    all_v = np.concatenate([head_v, fv.ravel()])
    all_b = np.concatenate([head_b, fb.ravel()])
    return pack_bits(all_v, all_b)


# ------------------------------------------------------------------- dod


def dod_encode_fast(offsets: np.ndarray) -> bytes:
    """Bit-identical to the golden oracle/codecs.dod_encode, vectorized.

    The header (count, first value, first delta) is three big-endian u64
    fields, so a blob of n <= 2 values is just its header. Deltas and
    delta-of-deltas are taken mod 2^64 in int64, which is what the golden
    encoder writes for a 64-bit field. A delta-of-delta whose true value
    exceeds 2^62 in magnitude (its float64 estimate x[i+2] - 2*x[i+1] +
    x[i] is off by < 2^14) may have wrapped into a small int64, so it goes
    to the 64-bit bucket, as in the golden encoder."""
    x = np.ascontiguousarray(offsets, dtype=np.int64)
    n = x.size
    d = x[1:] - x[:-1]  # int64 array arithmetic wraps mod 2^64
    head = np.concatenate((np.array([n], dtype=np.uint64), x[:1].view(np.uint64), d[:1].view(np.uint64)))
    if n <= 2:
        return head.astype(">u8").tobytes()
    dd = d[1:] - d[:-1]
    xf = x.astype(np.float64)
    big = np.abs(xf[2:] - 2.0 * xf[1:-1] + xf[:-2]) > float(1 << 62)
    m = dd.size
    fv = np.zeros((m, 2), dtype=np.uint64)
    fb = np.zeros((m, 2), dtype=np.int64)
    z = ~big & (dd == 0)
    fb[z, 0] = 1
    b1 = ~big & ~z & (dd >= -63) & (dd <= 64)
    fv[b1, 0] = (np.uint64(0b10) << np.uint64(7)) | (dd[b1] + 63).astype(np.uint64)
    fb[b1, 0] = 9
    b2 = ~big & ~z & ~b1 & (dd >= -255) & (dd <= 256)
    fv[b2, 0] = (np.uint64(0b110) << np.uint64(9)) | (dd[b2] + 255).astype(np.uint64)
    fb[b2, 0] = 12
    b3 = ~big & ~z & ~b1 & ~b2 & (dd >= -2047) & (dd <= 2048)
    fv[b3, 0] = (np.uint64(0b1110) << np.uint64(12)) | (dd[b3] + 2047).astype(np.uint64)
    fb[b3, 0] = 16
    b4 = ~z & ~b1 & ~b2 & ~b3
    fv[b4, 0] = np.uint64(0b1111)
    fb[b4, 0] = 4
    fv[b4, 1] = dd[b4].view(np.uint64)  # two's complement == mod 2^64
    fb[b4, 1] = 64
    all_v = np.concatenate([head, fv.ravel()])
    all_b = np.concatenate([np.full(3, 64, dtype=np.int64), fb.ravel()])
    return pack_bits(all_v, all_b)


# ------------------------------------------------------------ dod decode

_DOD_LEN_LUT = np.array([1, 1, 1, 1, 1, 1, 1, 1, 9, 9, 9, 9, 12, 12, 16, 68], dtype=np.int64)


def dod_decode_fast(blob: bytes) -> np.ndarray:
    """Vectorized dod decoder, same format as oracle/codecs.dod_decode.

    Field lengths are LOCAL to each field's leading control bits, so field
    starts form a pointer chain  next[p] = p + len(peek4(p)); the chain is
    resolved with pointer doubling (O(B log B) vectorized) instead of a
    per-field Python loop, then all payloads are gathered and mapped in
    four masked passes.
    """
    data = np.frombuffer(blob, dtype=np.uint8)
    total_bits = data.size * 8
    if total_bits < 64:
        raise ValueError("truncated blob")
    bits = np.unpackbits(data)  # MSB-first — matches BitWriter

    def read_u64(pos: int) -> int:
        seg = bits[pos : pos + 64]
        return int(seg @ (np.uint64(1) << np.arange(63, -1, -1, dtype=np.uint64)))

    n = read_u64(0)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    first = np.uint64(read_u64(64)).astype(np.int64)
    out[0] = first
    if n == 1:
        return out
    delta0 = np.uint64(read_u64(128))
    n_dod = n - 2
    if n_dod == 0:
        with np.errstate(over="ignore"):  # intentional mod-2^64 wraparound
            out[1] = (out[0].astype(np.uint64) + delta0).astype(np.int64)
        return out
    body = 192  # bit offset where dod fields start
    # local field length at every bit position, from its first <=4 bits
    padded = np.concatenate([bits, np.zeros(4, dtype=np.uint8)])
    win = np.lib.stride_tricks.sliding_window_view(padded[body:], 4)
    p4 = win @ np.array([8, 4, 2, 1], dtype=np.int64)
    # control -> total field length: 0xxx->1, 10xx->2+7, 110x->3+9, 1110->4+12, 1111->4+64
    ln = _DOD_LEN_LUT[p4]
    # field-start chain: one C-level index per field (the lengths are data-
    # dependent so the chain is inherently sequential; everything around it
    # — the length table above and the payload gathers below — is
    # vectorized, which is where the golden decoder spends ~90% of its time)
    starts_arr = np.empty(n_dod, dtype=np.int64)
    starts_arr[0] = 0
    p = 0
    ln_list = ln.tolist()  # plain-int indexing is ~3x faster than np scalar
    for i in range(1, n_dod):
        p = p + ln_list[p]
        starts_arr[i] = p
    starts = starts_arr
    ctrl = p4[starts]
    dd = np.zeros(n_dod, dtype=np.int64)
    padded_bits = np.concatenate([bits, np.zeros(80, dtype=np.uint8)])

    def gather(mask: np.ndarray, skip: int, width: int) -> np.ndarray:
        """Read `width`-bit payloads after `skip` control bits."""
        base = body + starts[mask] + skip
        w = np.uint64(1) << np.arange(width - 1, -1, -1, dtype=np.uint64)
        segs = padded_bits[base[:, None] + np.arange(width)]
        return (segs.astype(np.uint64) @ w).view(np.int64)

    m1 = (ctrl >= 8) & (ctrl < 12)
    if m1.any():
        dd[m1] = gather(m1, 2, 7) - 63
    m2 = (ctrl >= 12) & (ctrl < 14)
    if m2.any():
        dd[m2] = gather(m2, 3, 9) - 255
    m3 = ctrl == 14
    if m3.any():
        dd[m3] = gather(m3, 4, 12) - 2047
    m4 = ctrl == 15
    if m4.any():
        dd[m4] = gather(m4, 4, 64)  # int64 view == mod-2^64 semantics
    # reconstruct: deltas = delta0 + cumsum(dd) (mod 2^64), offsets = cumsum
    # — the uint64 wraparound IS the codec's two's-complement semantics,
    # so silence numpy's overflow warning for these adds only
    deltas = np.empty(n - 1, dtype=np.uint64)
    deltas[0] = delta0
    with np.errstate(over="ignore"):
        deltas[1:] = delta0 + np.cumsum(dd.view(np.uint64))
        out_u = out[0].astype(np.uint64) + np.cumsum(deltas)
    out[1:] = out_u.view(np.int64)
    return out


# NOTE on gorilla DECODE: unlike delta-of-delta, Gorilla field lengths
# depend on decoder state (a '10' reuse field inherits the last '11'
# block's significant-bit count), so boundary discovery cannot use a local
# length table — a prototype two-phase decoder (python walk + vectorized
# payload gathers + XOR-prefix scan) measured 4x SLOWER than the golden
# int.from_bytes reader at realistic per-doc sizes and was dropped. The
# hot path at the 10^12 design point is ENCODE (compression happens on
# every rollup; decode only on reads), and both encoders are vectorized.
