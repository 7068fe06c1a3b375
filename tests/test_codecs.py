"""Codec round-trips — FIXTURES F4 golden vectors + Spark-side segments."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from crossai_ts_spark.functions.codecs import gorilla_decode
from crossai_ts_spark.oracle.codecs import dod_decode, dod_encode, gorilla_encode

RNG = np.random.default_rng(42)

F4_VALUE_VECTORS = {
    "const": np.full(1000, 5.0),
    "ramp": np.arange(1000, dtype=np.float64),
    "random": RNG.normal(0, 1, 1000),
    "specials": np.array(
        [0.0, -0.0, np.inf, -np.inf, np.nan, 5e-324, -5e-324, 1.5, -1.5],
        dtype=np.float64,
    ),
    "empty": np.array([], dtype=np.float64),
    "single": np.array([3.14159], dtype=np.float64),
}

F4_OFFSET_VECTORS = {
    "regular": np.arange(0, 1000, dtype=np.int64),
    "strided": np.arange(0, 64000, 64, dtype=np.int64),
    "gappy": np.sort(RNG.choice(100000, size=500, replace=False)).astype(np.int64),
    "bucket_edges": np.cumsum(
        np.array([0, 1, 64, 65, 256, 257, 2048, 2049, 1 << 40], dtype=np.int64)
    ),
    "negative": np.array([-(1 << 40), -5, 0, 5, 1 << 40], dtype=np.int64),
    "empty": np.array([], dtype=np.int64),
    "single": np.array([7], dtype=np.int64),
    "two": np.array([7, 1 << 50], dtype=np.int64),
}


@pytest.mark.parametrize("name", list(F4_VALUE_VECTORS))
def test_gorilla_roundtrip(name):
    v = F4_VALUE_VECTORS[name]
    rt = gorilla_decode(gorilla_encode(v))
    assert rt.shape == v.shape
    assert (rt.view(np.uint64) == v.view(np.uint64)).all(), name  # incl. nan payload


@pytest.mark.parametrize("name", list(F4_OFFSET_VECTORS))
def test_dod_roundtrip(name):
    v = F4_OFFSET_VECTORS[name]
    rt = dod_decode(dod_encode(v))
    assert np.array_equal(rt, v), name


def test_gorilla_compression_wins_on_const():
    blob = gorilla_encode(F4_VALUE_VECTORS["const"])
    assert len(blob) < 1000 * 8 / 20  # >20x on constant series


def test_dod_compression_wins_on_regular():
    blob = dod_encode(F4_OFFSET_VECTORS["strided"])
    assert len(blob) < 1000  # ~1 bit/point after header


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        max_size=200,
    )
)
def test_gorilla_roundtrip_property(xs):
    v = np.array(xs, dtype=np.float64)
    rt = gorilla_decode(gorilla_encode(v))
    assert (rt.view(np.uint64) == v.view(np.uint64)).all()


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=200))
def test_dod_roundtrip_property(xs):
    v = np.array(xs, dtype=np.int64)
    assert np.array_equal(dod_decode(dod_encode(v)), v)


# ------------------------------------------------------------- spark side


def test_compress_decompress_tiers(spark, tiny_df, tiny_docs):
    from crossai_ts_spark.functions.codecs import compress_tiers, decompress_tiers
    from crossai_ts_spark.operators.rollup import cascade

    tiers = cascade(tiny_df, w=64, fanout=8, tiers=2)
    segs = compress_tiers(tiers)
    back = decompress_tiers(segs).toPandas().sort_values(["doc_id", "tier", "window_start"])
    exp = tiers.toPandas().sort_values(["doc_id", "tier", "window_start"])
    assert len(back) == len(exp)
    assert back.window_start.tolist() == exp.window_start.tolist()
    assert (
        back.value.to_numpy().view(np.uint64) == exp.t_mean.to_numpy().view(np.uint64)
    ).all()


def test_compressed_blob_partitioning_invariance(spark, tiny_df):
    """Blobs identical regardless of input partitioning (secondary sort works)."""
    from crossai_ts_spark.functions.codecs import compress_tiers
    from crossai_ts_spark.operators.rollup import cascade

    tiers = cascade(tiny_df, w=64, fanout=8, tiers=2)
    a = {
        (r.doc_id, r.tier): (bytes(r.ts_blob), bytes(r.val_blob))
        for r in compress_tiers(tiers.repartition(1)).collect()
    }
    b = {
        (r.doc_id, r.tier): (bytes(r.ts_blob), bytes(r.val_blob))
        for r in compress_tiers(tiers.repartition(7, "window_start")).collect()
    }
    assert a == b


def test_token_roundtrip_invariant(spark, tiny_df):
    from crossai_ts_spark.functions.codecs import tokens_roundtrip_sums

    res = tokens_roundtrip_sums(tiny_df).toPandas()
    assert res.ok.all()


def test_batched_equals_grouped_compression(spark, tiny_df):
    from crossai_ts_spark.functions.codecs import compress_tiers
    from crossai_ts_spark.operators.rollup import cascade
    from crossai_ts_spark.oracle.codecs import compress_tiers_grouped

    tiers = cascade(tiny_df, w=64, fanout=8, tiers=2)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        a = {
            (r.doc_id, r.tier): (bytes(r.ts_blob), bytes(r.val_blob), r.n_points)
            for r in compress_tiers(tiers).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    b = {
        (r.doc_id, r.tier): (bytes(r.ts_blob), bytes(r.val_blob), r.n_points)
        for r in compress_tiers_grouped(tiers).collect()
    }
    assert a == b
