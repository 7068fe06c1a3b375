"""Pure-numpy DSP kernels: shape grid (FIXTURES F3 style) + analytic checks."""

from __future__ import annotations

import numpy as np
import pytest

from crossai_ts_spark.functions.dsp import (
    butterworth_lowpass_fo,
    dct2_ortho,
    frame,
    gaussian_filter1d,
    hilbert_envelope,
    istft,
    median_filter,
    mel_filterbank,
    melspectrogram,
    mfcc,
    moving_average,
    spectrogram,
    stft,
)

RNG = np.random.default_rng(42)


@pytest.mark.parametrize("n", [1000, 256, 257, 128])
def test_stft_shapes(n):
    x = RNG.normal(0, 1, n)
    S = stft(x, n_fft=128, hop=32)
    assert S.shape[0] == 65  # 1 + n_fft//2
    assert S.shape[1] == 1 + (n + 2 * 64 - 128) // 32  # centered padding


def test_stft_istft_roundtrip():
    x = RNG.normal(0, 1, 1024)
    S = stft(x, n_fft=256, hop=64)
    y = istft(S, n_fft=256, hop=64, length=1024)
    assert np.allclose(x, y, atol=1e-8)


def test_stft_parseval_sine():
    """A pure sine concentrates energy at its bin."""
    n = 1024
    t = np.arange(n)
    x = np.sin(2 * np.pi * 0.125 * t)  # freq = fs/8 -> bin n_fft/8
    S = np.abs(stft(x, n_fft=256, hop=256, center=False))
    peak_bins = S.argmax(axis=0)
    assert (peak_bins == 32).all()  # 256/8


def test_mel_filterbank_shape_and_coverage():
    fb = mel_filterbank(sr=2.0, n_fft=256, n_mels=20)
    assert fb.shape == (20, 129)
    assert (fb >= 0).all()
    assert (fb.sum(axis=1) > 0).all()  # every filter covers some bins


def test_mfcc_shape():
    x = RNG.normal(0, 1, 2048)
    m = mfcc(x, sr=1.0, n_mfcc=13, n_fft=256, hop=64, n_mels=20)
    assert m.shape[0] == 13


def test_dct2_ortho_is_orthonormal():
    m = dct2_ortho(20, 20)
    assert np.allclose(m @ m.T, np.eye(20), atol=1e-10)


def test_moving_average_constant_invariant():
    x = np.full(100, 7.0)
    for k in (1, 3, 8):
        assert np.allclose(moving_average(x, k), 7.0)


def test_gaussian_filter_preserves_mean():
    x = RNG.normal(5, 1, 500)
    y = gaussian_filter1d(x, sigma=3.0)
    assert abs(y.mean() - x.mean()) < 0.05
    assert y.std() < x.std()  # smoothing reduces variance


def test_median_filter_kills_spikes():
    x = np.zeros(100)
    x[50] = 100.0
    y = median_filter(x, 5)
    assert y[50] == 0.0
    assert y.shape == x.shape


def test_butterworth_lowpass_attenuates_high_freq():
    t = np.arange(2048)
    lo = np.sin(2 * np.pi * 0.01 * t)
    hi = np.sin(2 * np.pi * 0.4 * t)
    y = butterworth_lowpass_fo(lo + hi, cutoff=0.05, fs=1.0, order=2)
    # low-freq survives, high-freq attenuated
    corr_lo = np.corrcoef(y, lo)[0, 1]
    assert corr_lo > 0.95
    assert y.std() < (lo + hi).std() * 0.9


def test_hilbert_envelope_of_am_signal():
    t = np.arange(4096)
    carrier = np.sin(2 * np.pi * 0.2 * t)
    env_true = 1.0 + 0.5 * np.sin(2 * np.pi * 0.002 * t)
    env = hilbert_envelope(carrier * env_true)
    mid = slice(200, -200)
    assert np.abs(env[mid] - env_true[mid]).mean() < 0.05


def test_frame_counts():
    assert frame(np.arange(100), 32, 16).shape == (5, 32)
    assert frame(np.arange(10), 32, 16).shape == (0, 32)


# ------------------------------------------------------------ spark side


def test_dsp_features_spark(spark, tiny_df):
    from crossai_ts_spark.functions.dsp import dsp_features

    got = dsp_features(tiny_df).toPandas()
    assert len(got) == tiny_df.count()
    assert (got.n_frames > 0).all()
    assert np.isfinite(got.mel_energy).all()
