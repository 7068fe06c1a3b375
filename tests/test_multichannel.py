"""Multi-channel surface vs the reference's numpy semantics
(caits/properties.py:74-108, caits/preprocessing.py:24-100)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


def _mk(spark, sig: np.ndarray):
    """(n_samples, n_channels) ndarray -> one-row DF of channel arrays."""
    chans = {f"ch{c}": sig[:, c].tolist() for c in range(sig.shape[1])}
    row = [tuple(["d0"] + list(chans.values()))]
    schema = "doc_id string, " + ", ".join(f"{k} array<double>" for k in chans)
    return spark.createDataFrame(row, schema), list(chans)


def _ref_resample(sig: np.ndarray, native_sr: int, target_sr: int) -> np.ndarray:
    # caits/preprocessing.py:24-60 resample_signal, float64 path
    duration = len(sig) / native_sr
    m = int(duration * target_sr)
    tx_src = np.linspace(0, duration, len(sig))
    tx = np.linspace(0, duration, m)
    return np.interp(tx, tx_src, sig)


def test_magnitude_and_sma_match_numpy(spark):
    from crossai_ts_spark.functions.multichannel import magnitude_signal, sma_signal

    rng = np.random.default_rng(3)
    sig = rng.normal(0, 10, (257, 3))
    df, chans = _mk(spark, sig)
    got = (
        df.select(
            magnitude_signal(*chans).alias("mag"), sma_signal(*chans).alias("sma")
        )
        .collect()[0]
    )
    np.testing.assert_allclose(got["mag"], np.sqrt(np.sum(sig**2, axis=1)), rtol=0, atol=1e-12)
    np.testing.assert_allclose(got["sma"], np.sum(np.abs(sig), axis=1), rtol=0, atol=1e-12)


def test_resample_2d_matches_np_interp(spark, monkeypatch):
    from crossai_ts_spark.functions import multichannel
    from crossai_ts_spark.functions.multichannel import resample_2d

    rng = np.random.default_rng(4)
    for n, nat, tgt in [(100, 100, 64), (137, 50, 80), (64, 16000, 8000), (257, 100, 100)]:
        sig = rng.normal(0, 5, (n, 2))
        df, _ = _mk(spark, sig)
        monkeypatch.setattr(multichannel, "NATIVE_SR", nat)
        monkeypatch.setattr(multichannel, "TARGET_SR", tgt)
        out = resample_2d(df).collect()[0]
        for c in range(2):
            ref = _ref_resample(sig[:, c], nat, tgt)
            got = np.asarray(out[f"ch{c}_rs"])
            assert out["n_rs"] == len(ref)
            np.testing.assert_allclose(got, ref, rtol=0, atol=1e-9)
        if nat == tgt:  # same-rate resample is the identity, exactly
            np.testing.assert_array_equal(np.asarray(out["ch0_rs"]), sig[:, 0])


def test_resample_2d_edges(spark, monkeypatch):
    from crossai_ts_spark.functions import multichannel
    from crossai_ts_spark.functions.multichannel import resample_2d

    # single-sample signal: np.interp returns fp[0] everywhere
    df, _ = _mk(spark, np.array([[7.0, -3.0]]))
    monkeypatch.setattr(multichannel, "NATIVE_SR", 1)
    monkeypatch.setattr(multichannel, "TARGET_SR", 4)
    out = resample_2d(df).collect()[0]
    assert out["n_rs"] == 4 and out["ch0_rs"] == [7.0] * 4 and out["ch1_rs"] == [-3.0] * 4

    # target too low for even one output sample -> empty arrays, not a
    # descending Spark sequence()
    df2, _ = _mk(spark, np.arange(6, dtype=float).reshape(3, 2))
    monkeypatch.setattr(multichannel, "NATIVE_SR", 100)
    monkeypatch.setattr(multichannel, "TARGET_SR", 20)
    out2 = resample_2d(df2).collect()[0]
    assert out2["n_rs"] == 0 and out2["ch0_rs"] == [] and out2["ch1_rs"] == []


def test_magnitude_single_channel_is_abs(spark):
    from crossai_ts_spark.functions.multichannel import magnitude_signal

    df, chans = _mk(spark, np.array([[-4.0], [3.0], [0.0]]))
    got = df.select(magnitude_signal(*chans).alias("m")).collect()[0]["m"]
    assert got == [4.0, 3.0, 0.0]
