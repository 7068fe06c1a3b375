"""Pure-numpy DSP kernels: shape grid (FIXTURES F3 style) + analytic checks."""

from __future__ import annotations

import numpy as np
import pytest

from crossai_ts_spark.functions.dsp import frame, istft, median_filter, stft

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
    y = istft(S, length=1024)
    assert np.allclose(x, y, atol=1e-8)


def test_stft_parseval_sine():
    """A pure sine concentrates energy at its bin."""
    n = 1024
    t = np.arange(n)
    x = np.sin(2 * np.pi * 0.125 * t)  # freq = fs/8 -> bin n_fft/8
    S = np.abs(stft(x, n_fft=256, hop=256, center=False))
    peak_bins = S.argmax(axis=0)
    assert (peak_bins == 32).all()  # 256/8


def test_median_filter_kills_spikes():
    x = np.zeros(100)
    x[50] = 100.0
    y = median_filter(x, 5)
    assert y[50] == 0.0
    assert y.shape == x.shape


def test_frame_counts():
    assert frame(np.arange(100), 32, 16).shape == (5, 32)
    assert frame(np.arange(10), 32, 16).shape == (0, 32)
