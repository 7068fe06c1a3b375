"""Codec round-trips — FIXTURES F4 golden vectors + Spark-side segments."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from crossai_ts_spark.oracle.codecs import dod_decode, dod_encode, gorilla_decode, gorilla_encode

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


def _segments(df) -> dict:
    return {
        (r.doc_id, r.tier): (bytes(r.ts_blob), bytes(r.val_blob), r.n_points)
        for r in df.collect()
    }


def test_compress_tiers_carries_groups_across_tiny_arrow_batches(spark, tiny_df):
    """Arrow batches of 7 rows split nearly every (doc, tier) group across
    batches: the carried-over groups must encode as the golden blobs."""
    from crossai_ts_spark.functions.codecs import compress_tiers
    from crossai_ts_spark.operators.rollup import cascade
    from crossai_ts_spark.oracle.codecs import compress_tiers_grouped

    tiers = cascade(tiny_df, w=64, fanout=8, tiers=2)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        a = _segments(compress_tiers(tiers))
    finally:
        spark.conf.set(key, old)
    assert a == _segments(compress_tiers_grouped(tiers))
    assert max(n for _, _, n in a.values()) > 7


def _write_documents(sf_dir) -> None:
    """A small ``documents`` table: ASCII and non-ASCII texts of Zipf-ish
    lengths, plus an empty one."""
    rng = np.random.default_rng(5)
    texts = ["".join(map(chr, rng.integers(32, 127, size=int(n)))) for n in rng.zipf(1.3, size=40).clip(1, 3000)]
    texts += ["", "naïve café ünïcödé " * 20]
    pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts,
                  "source": [f"s{i % 3}" for i in range(len(texts))]}).to_parquet(f"{sf_dir}/documents.parquet")


def _token_docs(sf_dir) -> pd.DataFrame:
    """documents -> (doc_id, tokens, n_tok, source), as tokenize_documents
    makes them: one token per code point, empty and null texts dropped."""
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "source"])
    docs = docs[docs["text"].notna() & (docs["text"].str.len() > 0)]
    toks = [np.array([ord(c) for c in t], dtype=np.int32) for t in docs["text"]]
    return pd.DataFrame({"doc_id": docs["doc_id"].astype(str).to_numpy(), "tokens": toks,
                         "n_tok": [t.size for t in toks], "source": docs["source"].to_numpy()})


def test_compression_ratio_matches_numpy_oracle(spark, tmp_path):
    """The rows-only ``compression_ratio`` query, closed by a numpy oracle:
    its byte count is the summed length of the golden blobs of every
    (doc, tier) of the numpy cascade."""
    from crossai_ts_spark.entry_queries import compression_ratio
    from crossai_ts_spark.oracle.rollup import cascade_oracle

    _write_documents(tmp_path)
    got = {r.tier: r.asDict() for r in compression_ratio(spark, str(tmp_path)).collect()}
    tiers = cascade_oracle(_token_docs(tmp_path), w=32, fanout=8, tiers=2)
    exp = {}
    for (_, tier), g in tiers.groupby(["doc_id", "tier"]):
        g = g.sort_values("window_start")
        e = exp.setdefault(tier, {"tier": tier, "n_segments": 0, "n_points": 0, "bytes_compressed": 0, "bytes_raw": 0})
        e["n_segments"] += 1
        e["n_points"] += len(g)
        e["bytes_compressed"] += len(dod_encode(g["window_start"].to_numpy())) + len(gorilla_encode(g["t_mean"].to_numpy()))
        e["bytes_raw"] += 16 * len(g)
    assert got == exp


# --------------------------------------------------- hostile codec inputs

I32 = np.iinfo(np.int32)


def _hostile(name: str) -> list[tuple[str, np.ndarray]]:
    rng = np.random.default_rng(11)
    if name == "one_doc":
        return [("d0", np.array([I32.min], dtype=np.int32))]
    if name == "two_docs":
        return [("d0", np.array([3, -4], dtype=np.int32)), ("d1", np.array([I32.max], dtype=np.int32))]
    if name == "empty_and_short":
        return [("e0", np.zeros(0, dtype=np.int32)), ("d1", np.array([9], dtype=np.int32)),
                ("e2", np.zeros(0, dtype=np.int32)), ("d3", np.array([1, 2], dtype=np.int32)),
                ("d4", np.arange(5, dtype=np.int32))]
    if name == "int32_extremes":
        ext = np.tile(np.array([I32.min, I32.max, I32.max, I32.min, 0, -1], dtype=np.int32), 200)
        return [("alt", ext), ("max", np.full(300, I32.max, dtype=np.int32)),
                ("rand", rng.integers(I32.min, I32.max, size=5000, dtype=np.int32, endpoint=True))]
    if name == "doc_64ki":
        return [("long", rng.integers(32, 127, size=1 << 16).astype(np.int32))]
    if name == "long_plus_4095_short":
        return [("long", rng.integers(0, 1200, size=1 << 16).astype(np.int32))] + [
            (f"s{i:04d}", rng.integers(0, 1200, size=int(rng.integers(0, 40))).astype(np.int32))
            for i in range(4095)]
    raise KeyError(name)


HOSTILE = ["one_doc", "two_docs", "empty_and_short", "int32_extremes", "doc_64ki", "long_plus_4095_short"]


def _hostile_df(spark, docs):
    from crossai_ts_spark.schema import SEQUENCES_SCHEMA

    rows = [(d, t.tolist(), int(t.size), "src") for d, t in docs]
    # one partition: the skewed case is one Arrow batch of 4096 docs
    return spark.createDataFrame(rows, schema=SEQUENCES_SCHEMA).coalesce(1)


@pytest.mark.parametrize("name", HOSTILE)
def test_hostile_tokens_roundtrip_sums(spark, name):
    """``ok`` for every doc, and sums exactly the int64 numpy sums."""
    from crossai_ts_spark.functions.codecs import tokens_roundtrip_sums

    docs = _hostile(name)
    res = tokens_roundtrip_sums(_hostile_df(spark, docs)).toPandas().set_index("doc_id")
    assert sorted(res.index) == sorted(d for d, _ in docs)
    assert res["ok"].all()
    for d, t in docs:
        t = t.astype(np.int64)
        assert res.at[d, "dec_sum"] == t.sum(), d
        assert res.at[d, "dec_wsum"] == (t * np.arange(1, t.size + 1)).sum(), d


@pytest.mark.parametrize("name", HOSTILE)
def test_hostile_tiers_compress_decompress(spark, name):
    """The tiers of the hostile docs compress to the golden blobs and
    decompress bitwise."""
    from crossai_ts_spark.functions.codecs import compress_tiers, decompress_tiers
    from crossai_ts_spark.operators.rollup import cascade

    tiers = cascade(_hostile_df(spark, _hostile(name)), w=32, fanout=8, tiers=2).cache()
    try:
        segs = compress_tiers(tiers).cache()
        key = ["doc_id", "tier", "window_start"]
        exp = tiers.toPandas().sort_values(key, ignore_index=True)
        assert _segments(segs) == {
            k: (dod_encode(g["window_start"].to_numpy()), gorilla_encode(g["t_mean"].to_numpy()), len(g))
            for k, g in exp.groupby(["doc_id", "tier"])
        }
        back = decompress_tiers(segs).toPandas().sort_values(key, ignore_index=True)
        assert back[key].equals(exp[key])
        assert np.array_equal(back["value"].to_numpy().view(np.uint64), exp["t_mean"].to_numpy().view(np.uint64))
        segs.unpersist()
    finally:
        tiers.unpersist()


def test_decompress_names_a_truncated_segment(spark, tiny_df):
    from crossai_ts_spark.functions.codecs import compress_tiers, decompress_tiers
    from crossai_ts_spark.operators.rollup import cascade
    from pyspark.sql import functions as F

    segs = compress_tiers(cascade(tiny_df, w=64, fanout=8, tiers=1))
    cut = segs.withColumn("val_blob", F.expr("substr(val_blob, 1, octet_length(val_blob) - 1)"))
    # a 1-point segment cut short fails the count check, a longer one its walk
    with pytest.raises(Exception, match=r"ValueError: blob \d+: (truncated|declared count)"):
        decompress_tiers(cut).collect()


def test_decompress_names_a_segment_whose_blobs_disagree_on_its_count(spark, tiny_df):
    from crossai_ts_spark.functions.codecs import compress_tiers, decompress_tiers
    from crossai_ts_spark.operators.rollup import cascade
    from pyspark.sql import functions as F

    segs = compress_tiers(cascade(tiny_df, w=64, fanout=8, tiers=1)).filter("n_points > 1")
    one = F.lit(bytearray(dod_encode(np.array([0], dtype=np.int64))))
    with pytest.raises(Exception, match=r"ValueError: doc_id '.+' tier 1: ts_blob holds 1 points, val_blob \d+"):
        decompress_tiers(segs.withColumn("ts_blob", one)).collect()
