"""Vectorized codec fast paths must be BIT-IDENTICAL to the golden
per-value encoders (oracle/codecs.py), including IEEE edge payloads and
the full int64 range."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from crossai_ts_spark.functions.codecs import gorilla_decode
from crossai_ts_spark.functions.codecs_fast import (
    dod_decode_fast,
    dod_encode_fast,
    gorilla_encode_fast,
    pack_bits,
)
from crossai_ts_spark.oracle.codecs import BitWriter, dod_decode, dod_encode, gorilla_encode


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


GORILLA_EDGE = [
    np.array([], dtype=np.float64),
    np.array([0.0]),
    np.array([0.0, -0.0, 0.0, -0.0]),
    np.array([np.inf, -np.inf, np.nan, 1e-310, 5e-324, 1.7976931348623157e308]),
    np.repeat(2.5, 100),
]


@pytest.mark.parametrize("arr", GORILLA_EDGE)
def test_gorilla_fast_edges(arr):
    assert gorilla_encode_fast(arr) == gorilla_encode(arr)


def test_gorilla_fast_nan_payloads():
    payload = np.array([0x7FF80000DEAD0001, 0xFFF0000000000001], dtype=np.uint64).view(np.float64)
    arr = np.concatenate([payload, payload[::-1], [1.0, 1.0]])
    fast = gorilla_encode_fast(arr)
    assert fast == gorilla_encode(arr)
    assert np.array_equal(
        gorilla_decode(fast).view(np.uint64), arr.view(np.uint64)
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
    assert gorilla_encode_fast(arr) == gorilla_encode(arr)


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
    blob = dod_encode_fast(arr)
    assert blob == dod_encode(arr)
    assert np.array_equal(dod_decode_fast(blob), arr)
    assert np.array_equal(dod_decode(blob), arr)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.integers(-(2**40), 2**40), max_size=150))
def test_dod_fast_hypothesis(xs):
    arr = np.array(xs, dtype=np.int64)
    blob = dod_encode_fast(arr)
    assert blob == dod_encode(arr)
    assert np.array_equal(dod_decode_fast(blob), arr)


INT64 = st.integers(-(2**63), 2**63 - 1)
INT64_EDGES = st.sampled_from([-(2**63), -(2**63) + 1, -(2**62), -1, 0, 1, 2**62, 2**63 - 2, 2**63 - 1])


@settings(max_examples=400, deadline=None)
@given(st.lists(INT64 | INT64_EDGES, max_size=12))
def test_dod_fast_hypothesis_full_int64(xs):
    """Any int64 values, n from 0: deltas and delta-of-deltas that wrap
    mod 2^64 must land in the golden encoder's buckets."""
    arr = np.array(xs, dtype=np.int64)
    blob = dod_encode_fast(arr)
    assert blob == dod_encode(arr)
    assert np.array_equal(dod_decode_fast(blob), arr)


def test_dod_fast_bucket_boundaries():
    """Every control-bucket boundary value of the delta-of-delta."""
    base = [0]
    for dd in [0, 1, -1, 64, -63, 65, -64, 256, -255, 257, -256, 2048, -2047, 2049, -2048, 10**9, -(10**9)]:
        # construct offsets whose dods hit exactly these values
        d_prev = 100
        base.append(base[-1] + d_prev)
        base.append(base[-1] + d_prev + dd)
    arr = np.array(base, dtype=np.int64)
    blob = dod_encode_fast(arr)
    assert blob == dod_encode(arr)
    assert np.array_equal(dod_decode_fast(blob), arr)


def test_random_walk_large():
    rng = np.random.default_rng(7)
    arr = np.cumsum(rng.integers(-500, 5000, size=50_000)).astype(np.int64)
    blob = dod_encode_fast(arr)
    assert blob == dod_encode(arr)
    assert np.array_equal(dod_decode_fast(blob), arr)
    vals = rng.normal(size=20_000).cumsum()
    assert gorilla_encode_fast(vals) == gorilla_encode(vals)
