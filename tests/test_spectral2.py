"""Peak picking (functions/spectral2.py) and the Welch/bandwidth/band-power
references (oracle/spectral.py).

Scipy-free verification via analytic properties: Parseval for Welch,
bin-exact dominant frequency, plateau semantics for find_peaks, monotone
band power concentration."""

from __future__ import annotations

import numpy as np

from crossai_ts_spark.functions.spectral2 import find_peaks_simple
from crossai_ts_spark.oracle.spectral import (
    band_relative_power,
    dominant_frequency,
    simpson_dx,
    spectral_bandwidth,
    welch_psd,
)


def test_welch_parseval_and_peak():
    fs = 1000.0
    t = np.arange(8192) / fs
    rng = np.random.default_rng(0)
    x = np.sin(2 * np.pi * 100 * t) + 0.1 * rng.normal(size=t.size)
    f, p = welch_psd(x, fs, nperseg=1024)
    # density integral ~ variance (hann leakage keeps it within ~10%)
    total = simpson_dx(p, f[1] - f[0])
    assert abs(total - x.var()) / x.var() < 0.1
    assert abs(f[np.argmax(p)] - 100.0) < fs / 1024 * 1.5


def test_dominant_frequency_bin_exact():
    fs = 256.0
    t = np.arange(1024) / fs
    x = np.sin(2 * np.pi * 32.0 * t)  # exactly at a bin (32 = 128*fs/1024/... )
    assert dominant_frequency(x, fs) == 32.0


def test_simpson_exact_for_cubics():
    # Simpson integrates cubics exactly on odd point counts
    dx = 0.1
    x = np.arange(0, 2.0001, dx)
    y = x**3 - 2 * x**2 + 5
    want = (2.0**4 / 4 - 2 * 2.0**3 / 3 + 5 * 2.0)
    assert abs(simpson_dx(y, dx) - want) < 1e-10


def test_band_power_concentrates():
    fs = 8000.0
    t = np.arange(8192) / fs
    x = np.sin(2 * np.pi * 550 * t)
    bp = band_relative_power(x, fs)
    assert np.argmax(bp) == 2  # (500, 650) band
    assert bp[2] > 0.5


def test_spectral_bandwidth_tone_vs_noise():
    fs = 1000.0
    t = np.arange(4096) / fs
    tone = np.sin(2 * np.pi * 125 * t)
    rng = np.random.default_rng(1)
    noise = rng.normal(size=t.size)
    assert spectral_bandwidth(tone, fs) < 1.0
    assert spectral_bandwidth(noise, fs) > 50.0


def test_find_peaks_strict_and_plateau():
    y = np.array([0, 1, 0, 2, 2, 2, 0, 3, 0, 0.5, 0.4])
    assert list(find_peaks_simple(y)) == [1, 4, 7, 9]
    assert find_peaks_simple(np.array([1.0, 1.0, 1.0])).size == 0
    assert find_peaks_simple(np.array([0.0, 5.0, 0.0])).tolist() == [1]


def test_island_peak_count_matches_find_peaks():
    """The SQL find_peaks_minutes realization (equal-value islands vs
    neighbor islands) must count exactly what find_peaks_simple counts."""
    rng = np.random.default_rng(3)
    for _ in range(50):
        y = rng.integers(0, 5, size=rng.integers(3, 60)).astype(float)
        # island-based count (the SQL semantics)
        vals = [y[0]]
        for v in y[1:]:
            if v != vals[-1]:
                vals.append(v)
        isl = 0
        for i in range(1, len(vals) - 1):
            if vals[i] > vals[i - 1] and vals[i] > vals[i + 1]:
                isl += 1
        assert isl == find_peaks_simple(y).size, y
