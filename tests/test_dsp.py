"""Pure-numpy DSP kernels: shape grid (FIXTURES F3 style) + analytic checks."""

from __future__ import annotations

import numpy as np
import pytest

from crossai_ts_spark.functions.dsp import HOP, N_FFT, frame, istft, median_filter, stft

RNG = np.random.default_rng(42)


@pytest.mark.parametrize("n", [1000, 256, 257, 128])
def test_stft_shapes(n):
    x = RNG.normal(0, 1, n)
    S = stft(x)
    assert S.shape[0] == 1 + N_FFT // 2
    assert S.shape[1] == 1 + (n + 2 * (N_FFT // 2) - N_FFT) // HOP  # centered padding


def test_stft_istft_roundtrip():
    x = RNG.normal(0, 1, 1024)
    y = istft(stft(x), length=1024)
    assert np.allclose(x, y, atol=1e-8)


def test_stft_parseval_sine():
    """A pure sine concentrates energy at its bin in every frame that lies
    wholly inside the signal (frames 2..-3 of the centered STFT)."""
    n = 1024
    t = np.arange(n)
    x = np.sin(2 * np.pi * 0.125 * t)  # freq = fs/8 -> bin N_FFT/8
    S = np.abs(stft(x))[:, 2:-2]
    assert S.shape[1] == 13
    assert (S.argmax(axis=0) == N_FFT // 8).all()


def test_median_filter_kills_spikes():
    x = np.zeros(100)
    x[50] = 100.0
    y = median_filter(x, 5)
    assert y[50] == 0.0
    assert y.shape == x.shape


def test_frame_counts():
    assert frame(np.arange(100), 32, 16).shape == (5, 32)
    assert frame(np.arange(10), 32, 16).shape == (0, 32)
