"""Butterworth/SOS designer + filters (functions/iir.py).

Verification is ANALYTIC, not scipy-based (sandbox has none): the bilinear
transform maps the digital magnitude response exactly onto the analog
Butterworth closed form at the prewarped frequency, so every design in the
sweep must satisfy |H_d(e^jw)| == 1/sqrt(1+(W/Wc)^2n) (+ band transforms)
to float precision. The sweep mirrors the reference's total_gen grids
(test/tests/test_filtering.py:59-161, test/utils.py:3-39): fs x type x
cutoff x order x method.
"""

from __future__ import annotations

import numpy as np
import pytest

from crossai_ts_spark.functions.iir import butter_sos, sosfilt, sosfilt_zi
from crossai_ts_spark.oracle.signal import butter_analog_mag, sos_freq_response, sosfiltfilt

GRID = [
    (order, btype, cut, fs)
    for fs in (100.0, 500.0, 1000.0)
    for (btype, cut) in [
        ("lowpass", 0.1),  # cutoffs as fraction of fs
        ("lowpass", 0.35),
        ("highpass", 0.05),
        ("highpass", 0.3),
        ("bandpass", (0.08, 0.24)),
        ("bandstop", (0.08, 0.24)),
    ]
    for order in (1, 2, 3, 4, 5, 7, 10)
]


@pytest.mark.parametrize("order,btype,cut,fs", GRID)
def test_butter_magnitude_identity(order, btype, cut, fs):
    cutoff = tuple(c * fs for c in cut) if isinstance(cut, tuple) else cut * fs
    sos = butter_sos(order, cutoff, fs, btype)
    assert sos.shape[1] == 6
    w = np.linspace(0.01, np.pi - 0.01, 257)
    got = sos_freq_response(sos, w)
    want = butter_analog_mag(w, order, cutoff, fs, btype)
    np.testing.assert_allclose(got, want, atol=1e-8)


def test_butter_cutoff_is_half_power():
    """|H| at the (prewarped) cutoff must be exactly 1/sqrt(2)."""
    for order in (1, 2, 5, 8):
        sos = butter_sos(order, 100.0, 1000.0, "lowpass")
        w_c = 2 * np.pi * 100.0 / 1000.0
        mag = sos_freq_response(sos, np.array([w_c]))[0]
        assert abs(mag - 1.0 / np.sqrt(2.0)) < 1e-9


def test_sosfiltfilt_zero_phase_and_attenuation():
    fs = 500.0
    t = np.arange(4000) / fs
    x = np.sin(2 * np.pi * 5 * t) + 0.5 * np.sin(2 * np.pi * 180 * t)
    y = sosfiltfilt(butter_sos(5, 30.0, fs, "lowpass"), x)
    core = slice(200, -200)
    # passband sine survives with no phase shift; 180 Hz is annihilated
    np.testing.assert_allclose(y[core], np.sin(2 * np.pi * 5 * t)[core], atol=1e-4)


def test_sosfilt_zi_step_no_transient():
    """With zi = sosfilt_zi(sos)*x0, a constant input must emerge scaled by
    exactly the DC gain from sample 0 (scipy's documented property)."""
    sos = butter_sos(4, 0.125 * 32, 32.0, "lowpass")
    x = np.full(64, 7.25)
    y = sosfilt(sos, x, zi=sosfilt_zi(sos) * x[0])
    dc = 1.0
    for b0, b1, b2, _, a1, a2 in sos:
        dc *= (b0 + b1 + b2) / (1 + a1 + a2)
    np.testing.assert_allclose(y, x * dc, rtol=1e-12)


def test_invalid_args():
    with pytest.raises(ValueError):
        butter_sos(4, 600.0, 1000.0, "lowpass")  # beyond Nyquist
    with pytest.raises(ValueError):
        butter_sos(4, 100.0, 1000.0, "bandess")


def test_stability_all_poles_inside_unit_circle():
    for order in (2, 5, 10):
        for btype, cut in [("lowpass", 0.2), ("highpass", 0.2), ("bandpass", (0.1, 0.3)), ("bandstop", (0.1, 0.3))]:
            c = tuple(v * 100 for v in cut) if isinstance(cut, tuple) else cut * 100
            sos = butter_sos(order, c, 100.0, btype)
            for _, _, _, _, a1, a2 in sos:
                roots = np.roots([1.0, a1, a2])
                assert np.all(np.abs(roots) < 1.0 + 1e-12)


def test_sosfiltfilt_batch_bitwise_equals_per_row():
    from crossai_ts_spark.functions.iir import sosfiltfilt_batch

    rng = np.random.default_rng(0)
    sos = butter_sos(4, 0.02, 1.0, "lowpass")
    X = rng.normal(size=(25, 300)).cumsum(axis=1)
    Yb = sosfiltfilt_batch(sos, X)
    for r in range(25):
        assert np.array_equal(Yb[r], sosfiltfilt(sos, X[r]))
