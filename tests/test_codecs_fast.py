"""The batch codecs must be BIT-IDENTICAL to the golden per-value encoders
(oracle/codecs.py), group by group, including IEEE edge payloads, the full
int64 range and groups of 0, 1 and 2 values; decoding must give the values
back bitwise."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from crossai_ts_spark.functions.codecs_fast import (
    dod_decode_batch,
    dod_encode_batch,
    gorilla_decode_batch,
    gorilla_encode_batch,
    pack_bits,
)
from crossai_ts_spark.oracle.codecs import BitWriter, dod_decode, dod_encode, gorilla_decode, gorilla_encode


def split(values: np.ndarray, lens) -> list[np.ndarray]:
    return np.split(values, np.cumsum(lens)[:-1]) if len(lens) else []


def check_dod(values, lens) -> None:
    """Batch ΔΔ blobs == golden per group; batch decode inverts them."""
    values = np.asarray(values, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    blobs = dod_encode_batch(values, lens)
    assert blobs == [dod_encode(g) for g in split(values, lens)]
    dec, n = dod_decode_batch(blobs)
    assert np.array_equal(n, lens)
    assert np.array_equal(dec, values)


def check_gorilla(values, lens) -> None:
    values = np.asarray(values, dtype=np.float64)
    lens = np.asarray(lens, dtype=np.int64)
    blobs = gorilla_encode_batch(values, lens)
    assert blobs == [gorilla_encode(g) for g in split(values, lens)]
    dec, n = gorilla_decode_batch(blobs)
    assert np.array_equal(n, lens)
    assert np.array_equal(dec.view(np.uint64), values.view(np.uint64))


def test_pack_bits_matches_bitwriter():
    rng = np.random.default_rng(1)
    for _ in range(30):
        k = int(rng.integers(1, 200))
        nbits = rng.integers(1, 65, size=k)
        vals = rng.integers(0, 2**63, size=k).astype(np.uint64)
        w = BitWriter()
        for v, nb in zip(vals, nbits):
            w.write(int(v), int(nb))
        assert pack_bits(vals, nbits) == w.getvalue()


def test_pack_bits_zero_width_fields():
    """Zero-width fields write nothing, also at the very end of a stream
    that fills its last 64-bit slot exactly."""
    rng = np.random.default_rng(2)
    cases = [np.array([64, 0]), np.array([32, 32, 0, 0]), np.array([0, 64, 0, 7, 0])]
    cases += [rng.integers(0, 65, size=int(rng.integers(1, 200))) for _ in range(30)]
    for nbits in cases:
        vals = rng.integers(0, 2**63, size=nbits.size).astype(np.uint64)
        w = BitWriter()
        for v, nb in zip(vals, nbits):
            w.write(int(v), int(nb))
        assert pack_bits(vals, nbits) == w.getvalue()


GORILLA_EDGE = [
    np.array([], dtype=np.float64),
    np.array([0.0]),
    np.array([0.0, -0.0, 0.0, -0.0]),
    np.array([np.inf, -np.inf, np.nan, 1e-310, 5e-324, 1.7976931348623157e308]),
    np.repeat(2.5, 100),
]


@pytest.mark.parametrize("arr", GORILLA_EDGE)
def test_gorilla_fast_edges(arr):
    check_gorilla(arr, [arr.size])


def test_gorilla_fast_nan_payloads():
    payload = np.array([0x7FF80000DEAD0001, 0xFFF0000000000001], dtype=np.uint64).view(np.float64)
    arr = np.concatenate([payload, payload[::-1], [1.0, 1.0]])
    check_gorilla(arr, [arr.size])
    assert np.array_equal(
        gorilla_decode(gorilla_encode_batch(arr, [arr.size])[0]).view(np.uint64), arr.view(np.uint64)
    )


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64) | st.integers(-5, 5).map(float),
        max_size=120,
    )
)
def test_gorilla_fast_hypothesis(xs):
    arr = np.array(xs, dtype=np.float64)
    check_gorilla(arr, [arr.size])


DOD_EDGE = [
    np.array([], dtype=np.int64),
    np.array([7], dtype=np.int64),
    np.array([7, -9], dtype=np.int64),
    np.array([0, 0, 0, 0], dtype=np.int64),
    np.arange(0, 6400, 64, dtype=np.int64),
    np.array([0, 2**62, -(2**62), 17, -1], dtype=np.int64),
    # true dod 2^65 - 2 wraps to -2 in int64: must still take the 64-bit bucket
    np.array([2**63 - 1, -(2**63), 2**63 - 1], dtype=np.int64),
    # n <= 2 blobs are the header alone; the first delta wraps mod 2^64
    np.array([-(2**63)], dtype=np.int64),
    np.array([2**63 - 1, -(2**63)], dtype=np.int64),
    np.array([-(2**63), 2**63 - 1], dtype=np.int64),
]


@pytest.mark.parametrize("arr", DOD_EDGE)
def test_dod_fast_edges(arr):
    check_dod(arr, [arr.size])
    assert np.array_equal(dod_decode(dod_encode_batch(arr, [arr.size])[0]), arr)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.integers(-(2**40), 2**40), max_size=150))
def test_dod_fast_hypothesis(xs):
    arr = np.array(xs, dtype=np.int64)
    check_dod(arr, [arr.size])


INT64 = st.integers(-(2**63), 2**63 - 1)
INT64_EDGES = st.sampled_from([-(2**63), -(2**63) + 1, -(2**62), -1, 0, 1, 2**62, 2**63 - 2, 2**63 - 1])


@settings(max_examples=400, deadline=None)
@given(st.lists(INT64 | INT64_EDGES, max_size=12))
def test_dod_fast_hypothesis_full_int64(xs):
    """Any int64 values, n from 0: deltas and delta-of-deltas that wrap
    mod 2^64 must land in the golden encoder's buckets."""
    arr = np.array(xs, dtype=np.int64)
    check_dod(arr, [arr.size])


def test_dod_fast_bucket_boundaries():
    """Every control-bucket boundary value of the delta-of-delta."""
    base = [0]
    for dd in [0, 1, -1, 64, -63, 65, -64, 256, -255, 257, -256, 2048, -2047, 2049, -2048, 10**9, -(10**9)]:
        # construct offsets whose dods hit exactly these values
        d_prev = 100
        base.append(base[-1] + d_prev)
        base.append(base[-1] + d_prev + dd)
    arr = np.array(base, dtype=np.int64)
    check_dod(arr, [arr.size])


def test_random_walk_large():
    rng = np.random.default_rng(7)
    arr = np.cumsum(rng.integers(-500, 5000, size=50_000)).astype(np.int64)
    check_dod(arr, [arr.size])
    vals = rng.normal(size=20_000).cumsum()
    check_gorilla(vals, [vals.size])


# ------------------------------------------------------- batches of groups

# group lengths weighted towards the n <= 2 header-only cases
LENS = st.lists(st.integers(0, 2) | st.integers(0, 40), max_size=30)
F64_EDGES = st.sampled_from([0.0, -0.0, np.inf, -np.inf, np.nan, 5e-324, -5e-324, 1e-310, 1.7976931348623157e308])
NAN_PAYLOADS = st.integers(1, 2**52 - 1).map(
    lambda m: np.array([0x7FF0000000000000 | m], dtype=np.uint64).view(np.float64)[0]
)


@settings(max_examples=200, deadline=None)
@given(LENS, st.data())
def test_dod_batch_hypothesis_random_splits(lens, data):
    """Random group splits of full-range int64 values and wrap-risk
    offsets: each group's blob is the golden one."""
    xs = data.draw(st.lists(INT64 | INT64_EDGES | st.integers(-3000, 3000), min_size=sum(lens), max_size=sum(lens)))
    check_dod(xs, lens)


@settings(max_examples=200, deadline=None)
@given(LENS, st.data())
def test_gorilla_batch_hypothesis_random_splits(lens, data):
    """Random group splits of NaN payloads, ±0, infs, denormals and
    repeats: a group's first nonzero XOR always opens a new block."""
    xs = data.draw(st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64) | F64_EDGES | NAN_PAYLOADS
        | st.integers(-3, 3).map(float),
        min_size=sum(lens), max_size=sum(lens)))
    check_gorilla(xs, lens)


def test_batch_of_many_groups_takes_the_lockstep_and_tail_walks():
    """Hundreds of groups of Zipf lengths: the decoders walk most blobs in
    lockstep and finish the longest ones field by field."""
    rng = np.random.default_rng(3)
    for kind in range(3):
        lens = np.minimum(rng.zipf(1.4, size=600), 4000)
        lens[::50] = rng.integers(0, 3, size=lens[::50].size)
        n = int(lens.sum())
        offs = [np.cumsum(rng.integers(-3000, 3000, size=n)), rng.integers(0, 1200, size=n),
                rng.integers(-(2**63), 2**63 - 1, size=n, endpoint=True)][kind]
        check_dod(offs, lens)
        vals = [rng.normal(size=n).cumsum().round(3), rng.integers(32, 127, size=(n, 64)).mean(axis=1),
                offs.view(np.float64)][kind]
        check_gorilla(vals, lens)


def test_batch_with_no_groups_or_no_values():
    check_dod(np.zeros(0, dtype=np.int64), [])
    check_gorilla(np.zeros(0), [])
    check_dod(np.zeros(0, dtype=np.int64), [0, 0, 0])
    check_gorilla(np.zeros(0), [0, 0])


def test_group_lengths_must_cover_the_values():
    with pytest.raises(ValueError, match="group lengths"):
        dod_encode_batch(np.arange(5), [2, 2])


# ----------------------------------------------------------- hostile blobs


@pytest.mark.parametrize("decode,encode", [(dod_decode_batch, dod_encode), (gorilla_decode_batch, gorilla_encode)])
def test_truncated_blob_is_a_named_error(decode, encode):
    """A blob cut short must fail by name, never run on into the next
    blob's bits."""
    rng = np.random.default_rng(0)
    good = encode(np.cumsum(rng.integers(1, 5000, size=300)).astype(np.int64)
                  if encode is dod_encode else rng.normal(size=300))
    nxt = encode(np.arange(500, dtype=np.int64) if encode is dod_encode else rng.normal(size=500))
    for cut in (1, 7, len(good) // 2):
        with pytest.raises(ValueError, match="blob 1: "):
            decode([good, good[:-cut], nxt])
    with pytest.raises(ValueError, match="blob 0: truncated"):
        decode([good[:5]])
    # and in a batch big enough for the lockstep walk
    with pytest.raises(ValueError, match="blob 70: "):
        decode([good] * 70 + [good[:-3]] + [nxt] * 70)


@pytest.mark.parametrize("decode,encode", [(dod_decode_batch, dod_encode), (gorilla_decode_batch, gorilla_encode)])
def test_declared_count_overrunning_the_blob_is_a_named_error(decode, encode):
    good = encode(np.arange(40, dtype=np.int64) if encode is dod_encode else np.linspace(0, 1, 40))
    for n in (41 * 8 * len(good), 2**63 + 5, 2**64 - 1):
        forged = n.to_bytes(8, "big") + good[8:]
        with pytest.raises(ValueError, match="blob 1: declared count"):
            decode([good, forged])
