"""Batch Gorilla / delta-of-delta codecs, bit-identical to the golden
per-value encoders in oracle/codecs.py.

Every function works on one Arrow batch at a time: the encoders take the
batch's values concatenated plus one length per group and return one blob
per group; the decoders take the batch's blobs and return the values
concatenated plus one length per blob. The per-call numpy cost is paid once
per batch instead of once per blob (CIDR 2022: amortize the per-call cost
over a vector), the same flat-values + lengths shape as ``rollup.cascade``.

Pieces:
  * pack_bits       variable-length bit fields -> MSB-first byte stream
                    (cumsum offsets, <=2 uint64-slot contributions per
                    field, bitwise_or.reduceat combine; no Python loop)
  * bit_length64 / ctz64   16-bit-LUT leading/trailing bit math
  * dod_encode_batch / gorilla_encode_batch
                    classify the whole batch group-aware, lay each group
                    out as [header][fields][zero pad to a byte], make one
                    pack_bits call and split it at the cumulative byte
                    lengths. Gorilla's block-reuse state machine
                    (``_block_opens``) skips the XORs that surely reuse
                    the open block and finds each group's next open with
                    one chunked numpy scan.
  * dod_decode_batch / gorilla_decode_batch
                    headers read vectorized; the field starts come from a
                    walk of one control code per value (never per bit):
                    in lockstep across the batch's blobs while many are
                    active, then a per-field list walk of the few long
                    blobs left (bounded by their fields, so one long blob
                    costs what it costs alone). Payloads are gathered with
                    byte-window reads; values are rebuilt with segmented
                    cumsums (ΔΔ) or a segmented XOR scan (Gorilla).

A blob whose declared count overruns its bytes, or whose walk does not end
inside its own bytes, raises ``ValueError`` naming the blob's index in the
batch; a decoder never reads a value from the next blob's bits.
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
    A batch-sized call is the codecs' largest working set, so the field
    arrays are reused in place.
    """
    if vals.size == 0:
        return b""
    u64 = np.uint64
    width = nbits.astype(np.uint8, copy=False)
    pos = np.cumsum(width, dtype=u64)
    total = int(pos[-1])
    pos -= width  # the field's first bit
    slot = (pos >> u64(6)).view(np.int64)
    pos &= u64(63)
    pos += width  # bit index (within slot) one past the field end
    over = (np.maximum(pos, u64(64)) - u64(64)).astype(np.uint8)
    # the value masked to its width (numpy shifts by >= 64 give 0: the
    # 64-bit mask; a zero-width field masks to 0)
    val = np.left_shift(u64(1), width, dtype=u64)
    del width
    val -= u64(1)
    val &= vals.astype(u64, copy=False)
    # the field's part inside its slot: one of the two shifts is by 0
    np.minimum(pos, u64(64), out=pos)
    np.subtract(u64(64), pos, out=pos)
    c0 = np.left_shift(val, pos, out=pos)
    c0 >>= over
    # one spare slot: a zero-width field at the very end starts there
    out = np.zeros(((total + 63) >> 6) + 1, dtype=u64)
    # combine the in-slot parts per slot (slots are nondecreasing)
    starts = np.nonzero(np.concatenate(([True], slot[1:] != slot[:-1])))[0]
    out[slot[starts]] = np.bitwise_or.reduceat(c0, starts)
    del c0
    # a field's spill-over lands in the next slot; only the one field
    # crossing a slot boundary spills into it, so the indices are unique
    has_ov = np.nonzero(over)[0]
    if has_ov.size:
        out[slot[has_ov] + 1] |= val[has_ov] << (u64(64) - over[has_ov])
    by = out.byteswap().view(np.uint8)  # big-endian per slot == MSB-first
    return by[: (total + 7) >> 3].tobytes()


# ------------------------------------------------------------- encoders


def _groups(lengths: np.ndarray, n_values: int):
    """Per-group lengths -> (lengths, group starts, group of every value)."""
    n = np.asarray(lengths, dtype=np.int64)
    if int(n.sum()) != n_values:
        raise ValueError(f"group lengths sum to {int(n.sum())}, values hold {n_values}")
    return n, np.cumsum(n) - n, np.repeat(np.arange(n.size), n)


def _pack_groups(n, grp, v0, b0, j1, v1, b1) -> list[bytes]:
    """Lay every group out as [count: 64][its values' fields][zero pad to a
    byte], pack the batch once and cut it into per-group blobs.

    Value j writes field (v0[j], b0[j]); the values ``j1`` (increasing) then
    write a second field (v1, b1). The pad makes each group a whole number
    of bytes, so group g's blob is bytes [off[g], off[g+1]) of the one
    packed stream."""
    G = n.size
    gst = np.cumsum(n) - n
    gend = gst + n
    nf = np.ones(v0.size, dtype=np.int64)  # fields per value
    nf[j1] = 2
    cf = np.zeros(v0.size + 1, dtype=np.int64)  # fields before each value
    np.cumsum(nf, out=cf[1:])
    del nf
    hdr = cf[gst] + 2 * np.arange(G)
    sv = np.zeros(int(cf[-1]) + 2 * G, dtype=np.uint64)
    sb = np.zeros(sv.size, dtype=np.uint8)
    at = cf[:-1] + 2 * grp + 1  # a value's first field (after g + 1 counts and g pads)
    sv[at], sb[at] = v0, b0
    at = at[j1] + 1
    sv[at], sb[at] = v1, b1
    del at
    sv[hdr], sb[hdr] = n.astype(np.uint64), 64
    # a group's bits: its count, its first fields, its second fields
    c0 = np.concatenate(([0], np.cumsum(b0, dtype=np.int64)))
    bits = 64 + c0[gend] - c0[gst]
    del c0
    c1 = np.concatenate(([0], np.cumsum(b1, dtype=np.int64)))
    bits += c1[np.searchsorted(j1, gend)] - c1[np.searchsorted(j1, gst)]
    sb[hdr + 1 + cf[gend] - cf[gst]] = -bits & 7
    del cf, c1
    buf = pack_bits(sv, sb)
    off = np.concatenate(([0], np.cumsum((bits + 7) >> 3))).tolist()
    return [buf[a:b] for a, b in zip(off[:-1], off[1:])]


# delta-of-delta bucket -> control code with its payload slot, field bits,
# payload bias and payload mask; bucket 4 ('1111') writes its 64-bit
# payload as a second field
_ENC_CODE = np.array([0, 0b10 << 7, 0b110 << 9, 0b1110 << 12, 0b1111], dtype=np.int64)
_ENC_BITS = np.array([1, 9, 12, 16, 4], dtype=np.uint8)
_ENC_BIAS = np.array([0, 63, 255, 2047, 0], dtype=np.int64)
_ENC_MASK = np.array([0, 127, 511, 4095, 0], dtype=np.int64)
# a dod D in buckets 1-3 has D - 1 in 7, 9, 12-bit two's complement
_ENC_EDGES = np.array([64, 256, 2048], dtype=np.int64)


def dod_encode_batch(values: np.ndarray, lengths: np.ndarray) -> list[bytes]:
    """One oracle/codecs.dod_encode blob per group of ``values``.

    The header (count, first value, first delta) is three big-endian u64
    fields, so a group of n <= 2 values is just its header. Deltas and
    delta-of-deltas are taken mod 2^64 in int64, which is what the golden
    encoder writes for a 64-bit field. A delta-of-delta whose true value
    exceeds 2^62 in magnitude (its float64 estimate x[i] - 2*x[i-1] +
    x[i-2] is off by < 2^14) may have wrapped into a small int64, so it
    goes to the 64-bit bucket, as in the golden encoder."""
    x = np.ascontiguousarray(values, dtype=np.int64)
    n, gst, grp = _groups(lengths, x.size)
    # x[i] - 2 x[i-1] + x[i-2]; int64 array arithmetic wraps mod 2^64
    dd = np.zeros_like(x)
    np.add(x[2:], x[:-2], out=dd[2:])
    dd[2:] -= x[1:-1]
    dd[2:] -= x[1:-1]
    est = x[2:].astype(np.float64)
    est += x[:-2]
    est -= x[1:-1]
    est -= x[1:-1]
    e = dd - 1
    e ^= e >> 63
    b = np.searchsorted(_ENC_EDGES, e, side="right") + 1
    del e
    b[dd == 0] = 0
    b[2:][np.abs(est, out=est) > float(1 << 62)] = 4
    del est
    # each group's first value and first delta are u64 header fields
    h0, h1 = gst[n > 0], gst[n > 1] + 1
    b[h0] = b[h1] = 0
    v0 = dd + _ENC_BIAS[b]
    v0 &= _ENC_MASK[b]
    v0 |= _ENC_CODE[b]
    v0 = v0.view(np.uint64)
    b0 = _ENC_BITS[b]
    j1 = np.nonzero(b == 4)[0]
    v1 = dd[j1].view(np.uint64)  # two's complement == mod 2^64
    del b, dd  # free the batch-sized temporaries before the pack
    v0[h0], b0[h0] = x[h0].view(np.uint64), 64
    v0[h1], b0[h1] = (x[h1] - x[h1 - 1]).view(np.uint64), 64
    return _pack_groups(n, grp, v0, b0, j1, v1, np.full(j1.size, 64, dtype=np.uint8))


def _block_opens(ln: np.ndarray, tn: np.ndarray, gi: np.ndarray) -> np.ndarray:
    """Gorilla's block-reuse state machine: which of the nonzero XORs (with
    leading zeros ``ln``, trailing zeros ``tn``, group ``gi``) open a block.

    A group's first nonzero XOR opens a block; after that an XOR opens a new
    block iff its lead or trail falls below the open block's. An XOR whose
    lead and trail are both >= those of the nonzero XOR before it in the
    group reuses for sure (that one was >= the open block's) and changes no
    state, so only the other ones (candidates) are searched: group by group,
    one chunked numpy scan per open finds the next open."""
    cand = np.ones(ln.size, dtype=bool)
    cand[1:] = (gi[1:] != gi[:-1]) | (ln[1:] < ln[:-1]) | (tn[1:] < tn[:-1])
    c = np.nonzero(cand)[0]
    cl, ct, cg = ln[c], tn[c], gi[c]
    head = np.nonzero(np.concatenate(([True], cg[1:] != cg[:-1])))[0] if c.size else c
    end = np.concatenate((head[1:], [c.size]))
    opens = head.tolist()
    for p, e in zip((head + 1).tolist(), end.tolist()):
        L, T = cl[p - 1], ct[p - 1]
        while p < e:
            step, nxt = 64, e
            while p < e:
                hi = min(p + step, e)
                f = (cl[p:hi] < L) | (ct[p:hi] < T)
                k = int(np.argmax(f))
                if f[k]:
                    nxt = p + k
                    break
                p, step = hi, step * 4
            if nxt == e:
                break
            opens.append(nxt)
            L, T, p = cl[nxt], ct[nxt], nxt + 1
    return c[np.asarray(opens, dtype=np.int64)]


def gorilla_encode_batch(values: np.ndarray, lengths: np.ndarray) -> list[bytes]:
    """One oracle/codecs.gorilla_encode blob per group of ``values``."""
    bits = np.ascontiguousarray(values, dtype=np.float64).view(np.uint64)
    n, gst, grp = _groups(lengths, bits.size)
    x = np.zeros_like(bits)
    np.bitwise_xor(bits[1:], bits[:-1], out=x[1:])
    first = gst[n > 0]
    x[first] = 0
    idx = np.nonzero(x)[0]
    xl = x[idx]
    del x
    ln = np.minimum(64 - bit_length64(xl), 31)
    tn = ctz64(xl)
    is_new = np.zeros(idx.size, dtype=bool)
    is_new[_block_opens(ln, tn, grp[idx])] = True
    sig = 64 - ln - tn
    # the open block's (lead, sig) at every nonzero XOR
    blk = np.maximum.accumulate(np.where(is_new, np.arange(idx.size), 0))
    pl, ps = ln[blk], sig[blk]
    v0 = np.zeros_like(bits)
    b0 = np.ones(bits.size, dtype=np.uint8)  # '0'
    v0[first], b0[first] = bits[first], 64
    # '10' + the open block's sig bits, or '11' + 5b lead + 6b (sig - 1) + sig bits
    v0[idx] = np.where(is_new, (0b11 << 11) | (ln << 6) | (sig - 1), 0b10).astype(np.uint64)
    b0[idx] = np.where(is_new, 13, 2)
    v1 = xl >> (64 - pl - ps).astype(np.uint64)
    del xl, ln, tn, sig, is_new, blk, pl  # free the batch-sized temporaries before the pack
    return _pack_groups(n, grp, v0, b0, idx, v1, ps)


# ------------------------------------------------------------- decoders

# zero bytes after a batch's joined blobs, so every window read of a field
# that ends inside its blob stays inside the buffer
_PAD = 16
# below this many active blobs a lockstep step (a dozen numpy calls) costs
# more than walking the remaining fields one by one in Python
_LOCKSTEP_MIN = 64


class _Batch:
    """A batch's blobs joined into one buffer with byte-window views."""

    def __init__(self, blobs) -> None:
        self.size = np.fromiter(map(len, blobs), dtype=np.int64, count=len(blobs))
        self.start = np.cumsum(self.size) - self.size
        buf = b"".join(blobs) + bytes(_PAD)
        self.u8 = np.frombuffer(buf, dtype=np.uint8)
        # big-endian 4-byte window starting at every byte: the windows at
        # bytes k, k + 4, ... are the buffer from byte k read as '>u4'
        self.w32 = np.empty(len(buf) - 3, dtype=np.uint32)
        for k in range(4):
            self.w32[k::4] = np.frombuffer(buf, dtype=">u4", count=(len(buf) - k) // 4, offset=k)
        self.end_bit = 8 * (self.start + self.size)

    def u64_at(self, byte: np.ndarray) -> np.ndarray:
        """Big-endian u64 at byte offsets."""
        return (self.w32[byte].astype(np.uint64) << np.uint64(32)) | self.w32[byte + 4].astype(np.uint64)

    def bits_at(self, pos: np.ndarray, width: np.ndarray) -> np.ndarray:
        """``width`` (0..64) bits at bit offsets ``pos``, as uint64."""
        b = pos >> 3
        r = (pos & 7).astype(np.uint64)
        win = (self.u64_at(b) << r) | (self.u8[b + 8].astype(np.uint64) >> (np.uint64(8) - r))
        return win >> (np.uint64(64) - width.astype(np.uint64))  # a shift by 64 gives 0

    def peek(self, pos: np.ndarray, nbits: int) -> np.ndarray:
        """The ``nbits`` (<= 25) bits at bit offsets ``pos``; offsets past
        the buffer read its last window (that walk fails its end check)."""
        w = np.take(self.w32, pos >> 3, mode="clip")
        return ((w << (pos & 7)) >> (32 - nbits)) & ((1 << nbits) - 1)

    def headers(self, min_bits) -> np.ndarray:
        """Each blob's u64 count, checked against its bytes: ``min_bits(n)``
        is the fewest bits a blob of n values can have."""
        short = np.nonzero(self.size < 8)[0]
        if short.size:
            raise ValueError(f"blob {short[0]}: truncated ({self.size[short[0]]} bytes, no count)")
        n = self.u64_at(self.start)
        # every value takes >= 1 bit, so n <= 8 * size before int64 math
        bad = n > (8 * self.size).astype(np.uint64)
        n = np.where(bad, 0, n).astype(np.int64)
        bad |= min_bits(n) > 8 * self.size
        if bad.any():
            j = int(np.argmax(bad))
            raise ValueError(f"blob {j}: declared count {int(self.u64_at(self.start[j:j + 1])[0])} "
                             f"overruns its {self.size[j]} bytes")
        return n

    def walk(self, body: np.ndarray, nf: np.ndarray, step, tail):
        """Start bit of every field: blob b's ``nf[b]`` fields follow each
        other from bit ``body[b]``.

        ``step(q, state) -> lengths`` advances many blobs by one field
        (numpy, ``state`` an int64 array it may update in place);
        ``tail(w, p, state, m, out) -> p`` walks one blob's ``m`` fields
        from bit ``p`` of the int list ``w`` of 4-byte windows, appending
        each start to ``out``. Blobs run in lockstep, longest
        first, while at least _LOCKSTEP_MIN are active; the rest finish
        one by one with ``tail``. Raises if a blob's last field does not
        end inside its own bytes."""
        nfb = np.cumsum(nf) - nf
        starts = np.empty(int(nf.sum()), dtype=np.int64)
        order = np.argsort(-nf, kind="stable")
        k, pos, fb = nf[order], body[order], nfb[order]
        state = np.zeros(k.size, dtype=np.int64)
        end = self.end_bit[order]
        # active[s] = blobs with more than s fields (a prefix of `order`)
        active = np.searchsorted(-k, -np.arange(int(k[0]) + 1 if k.size else 1))
        s = 0
        while active[s] >= _LOCKSTEP_MIN:
            a = active[s]
            q = pos[:a]
            starts[fb[:a] + s] = q
            pos[:a] = q + step(q, state[:a])
            s += 1
        for j in range(int(active[s])):
            lo = int(pos[j]) >> 3
            out: list[int] = []
            try:
                p = tail(self.w32[lo:(int(end[j]) >> 3) + 1].tolist(), int(pos[j]) - 8 * lo,
                         int(state[j]), int(k[j]) - s, out)
            except IndexError:  # ran off the blob's windows
                pos[j] = end[j] + 1
                continue
            starts[fb[j] + s: fb[j] + k[j]] = np.asarray(out, dtype=np.int64) + 8 * lo
            pos[j] = p + 8 * lo
        bad = pos > end
        if bad.any():
            raise ValueError(f"blob {order[np.argmax(bad)]}: truncated (its fields run past its bytes)")
        return starts


def _seg_scan(op, inverse, seq: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Running ``op`` (add mod 2^64, or xor) over uint64 ``seq``, restarted
    at every segment of ``lens``: the global scan with the scan before each
    segment taken back out."""
    c = np.concatenate((np.zeros(1, dtype=np.uint64), op.accumulate(seq)))
    return inverse(c[1:], np.repeat(c[np.cumsum(lens) - lens], lens))


def _interleave(firsts: np.ndarray, rest: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Segments of ``lens`` (each >= 1): a segment's first element from
    ``firsts``, the others from ``rest`` in order."""
    out = np.empty(int(lens.sum()), dtype=rest.dtype)
    head = np.zeros(out.size, dtype=bool)
    head[np.cumsum(lens) - lens] = True
    out[head] = firsts
    out[~head] = rest
    return out


# control code (the field's first 4 bits) -> field length, and how to read
# the payload from the field's first 16 bits: shift, mask, bias; 1111 is
# the 64-bit payload
_DOD_LEN = np.array([1] * 8 + [9] * 4 + [12] * 2 + [16, 68], dtype=np.int64)
_DOD_SHIFT = np.array([15] * 8 + [7] * 4 + [4] * 2 + [0, 12], dtype=np.int64)
_DOD_MASK = np.array([0] * 8 + [127] * 4 + [511] * 2 + [4095, 0], dtype=np.int64)
_DOD_BIAS = np.array([0] * 8 + [63] * 4 + [255] * 2 + [2047, 0], dtype=np.int64)
_DOD_LEN_L = _DOD_LEN.tolist()


def _dod_tail(w, p, state, m, out):
    ln = _DOD_LEN_L
    add = out.append
    for _ in range(m):
        add(p)
        p += ln[((w[p >> 3] << (p & 7)) >> 28) & 15]
    return p


def dod_decode_batch(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`dod_encode_batch`: (values, one length per blob)."""
    bt = _Batch(blobs)
    n = bt.headers(lambda n: np.where(n == 0, 64, np.where(n == 1, 128, 192 + np.maximum(n - 2, 0))))
    nf = np.maximum(n - 2, 0)
    starts = bt.walk(8 * bt.start + 64 + 64 * np.minimum(n, 2), nf, lambda q, st: _DOD_LEN[bt.peek(q, 4)], _dod_tail)
    dd = bt.peek(starts, 16)
    c = dd >> 12
    raw = np.nonzero(c == 15)[0]
    dd >>= _DOD_SHIFT[c]
    dd &= _DOD_MASK[c]
    dd -= _DOD_BIAS[c]
    del c
    dd[raw] = bt.bits_at(starts[raw] + 4, np.full(raw.size, 64)).view(np.int64)
    del starts
    # deltas: per blob of n >= 2, [d0, d0 + dd_1, ...]; values: [x0, x0 + deltas...]
    two = n >= 2
    nd = np.maximum(n - 1, 0)
    d0 = bt.u64_at(bt.start[two] + 16)
    deltas = _seg_scan(np.add, np.subtract, _interleave(d0, dd.view(np.uint64), nd[two]), nd[two])
    one = n >= 1
    x0 = bt.u64_at(bt.start[one] + 8)
    values = _seg_scan(np.add, np.subtract, _interleave(x0, deltas, n[one]), n[one])
    return values.view(np.int64), n


def _gorilla_tail(w, p, sig, m, out):
    add = out.append
    for _ in range(m):
        add(p)
        v = ((w[p >> 3] << (p & 7)) >> 19) & 0x1FFF
        if v < 0x1000:  # '0'
            p += 1
        elif v < 0x1800:  # '10': the open block's sig bits
            p += 2 + sig
        else:  # '11' + 5b lead + 6b (sig - 1)
            sig = (v & 63) + 1
            p += 13 + sig
    return p


def gorilla_decode_batch(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`gorilla_encode_batch`: (values, one length per blob)."""
    bt = _Batch(blobs)
    n = bt.headers(lambda n: np.where(n == 0, 64, 128 + np.maximum(n - 1, 0)))
    nf = np.maximum(n - 1, 0)

    def step(q, sig):
        t = bt.peek(q, 13)
        new = t >= 0x1800
        sig[new] = (t[new] & 63) + 1
        return np.where(t < 0x1000, 1, np.where(new, 13, 2) + sig)

    starts = bt.walk(8 * bt.start + 64 + 64 * np.minimum(n, 1), nf, step, _gorilla_tail)
    t = bt.peek(starts, 13)
    new = t >= 0x1800
    # the open block's (lead, sig) at every field: the last '11' of the
    # same blob; a blob's first field resets to (0, 0) as in the golden
    # decoder
    first = np.zeros(starts.size, dtype=bool)
    first[(np.cumsum(nf) - nf)[nf > 0]] = True
    first |= new
    src = np.maximum.accumulate(np.where(first, np.arange(starts.size), 0))
    del first
    lead = np.where(new, (t >> 6) & 31, 0).astype(np.uint8)[src]
    sig = np.where(new, (t & 63) + 1, 0).astype(np.uint8)[src]
    del src
    nonzero = t >= 0x1000
    del t
    over = nonzero & (lead + sig > 64)
    if over.any():
        j = int(np.searchsorted(np.cumsum(nf), np.argmax(over), side="right"))
        raise ValueError(f"blob {j}: block of {int(lead[over][0])} leading + "
                         f"{int(sig[over][0])} significant bits exceeds 64")
    starts += np.where(new, 13, 2)
    del new
    x = bt.bits_at(starts, np.where(nonzero, sig, 0))
    del starts, nonzero
    # a '0' field reads 0 bits, whatever its block's shift
    x <<= (64 - lead.astype(np.int64) - sig).astype(np.uint64)
    one = n >= 1
    v0 = bt.u64_at(bt.start[one] + 8)
    values = _seg_scan(np.bitwise_xor, np.bitwise_xor, _interleave(v0, x, n[one]), n[one])
    return values.view(np.float64), n
