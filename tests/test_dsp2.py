"""PCEN / HPSS / phase vocoder / time-stretch / pitch-shift / polyphase
resample (functions/dsp2.py) — analytic, scipy-free verification."""

from __future__ import annotations

import numpy as np
import pytest

from crossai_ts_spark.functions.dsp2 import (
    hpss,
    hpss_signal,
    phase_vocoder,
    pitch_shift_ts,
    resample_poly,
    time_stretch_ts,
    time_warp_np,
)
from crossai_ts_spark.oracle.signal import pcen_base


def test_pcen_steady_state_closed_form():
    """Constant spectrogram: after the IIR transient the output equals the
    Wang et al. closed form exactly."""
    E = np.full((5, 400), 4.0)
    out = pcen_base(E, s=0.5)
    expect = (4.0 / (1e-6 + 4.0) ** 0.98 + 2) ** 0.5 - 2**0.5
    np.testing.assert_allclose(out[:, -1], expect, rtol=1e-9)


def test_pcen_flattens_dynamics():
    """PCEN's point: a 100x level difference compresses to near-parity."""
    loud = np.full((1, 300), 100.0)
    quiet = np.full((1, 300), 1.0)
    pl = pcen_base(loud, s=0.1)[0, -1]
    pq = pcen_base(quiet, s=0.1)[0, -1]
    assert pl / pq < 2.0  # raw ratio was 100x


def test_hpss_masks_sum_to_signal():
    """With margin=1 and power=2 the soft masks are complementary:
    H + P == S."""
    rng = np.random.default_rng(2)
    S = np.abs(rng.normal(size=(33, 40))) + 0.1
    H, P = hpss(S)
    np.testing.assert_allclose(H + P, S, rtol=1e-9)


def test_hpss_separates_tone_from_clicks():
    t = np.arange(4096)
    x_h = np.sin(2 * np.pi * 0.05 * t)
    x_p = np.zeros(4096)
    x_p[::512] = 10.0
    H, P = hpss_signal(x_h + x_p)
    assert np.corrcoef(H[300:-300], x_h[300:-300])[0, 1] > 0.9
    # percussive energy concentrates at the click positions
    assert abs(P[512]) > 10 * abs(P[300])


def test_phase_vocoder_rate_changes_frame_count():
    D = np.ones((129, 100), dtype=complex)
    assert phase_vocoder(D, rate=2.0).shape[1] == 50
    assert phase_vocoder(D, rate=0.5).shape[1] == 200


def test_time_stretch_preserves_frequency():
    """Stretching changes duration, not pitch: the dominant DFT bin of a
    sine (in cycles/sample) stays put."""
    t = np.arange(4096)
    x = np.sin(2 * np.pi * 0.03 * t)
    y = time_stretch_ts(x, 2.0)
    assert y.size == 2048
    f_x = np.abs(np.fft.rfft(x[256:-256]))
    f_y = np.abs(np.fft.rfft(y[256:-256]))
    peak_x = np.argmax(f_x) / f_x.size
    peak_y = np.argmax(f_y) / f_y.size
    assert abs(peak_x - peak_y) / peak_x < 0.05
    with pytest.raises(ValueError):
        time_stretch_ts(x, 0.0)


def test_pitch_shift_octave_doubles_peak_bin(monkeypatch):
    from crossai_ts_spark.functions import dsp2

    monkeypatch.setattr(dsp2, "PITCH_STEPS", 12)
    t = np.arange(4096)
    x = np.sin(2 * np.pi * 0.01 * t)
    y = pitch_shift_ts(x)
    assert y.size == x.size
    p0 = np.argmax(np.abs(np.fft.rfft(x)))
    p1 = np.argmax(np.abs(np.fft.rfft(y)))
    assert abs(p1 - 2 * p0) <= 2


def test_resample_poly_sine_parity():
    x = np.sin(2 * np.pi * 0.02 * np.arange(3000))
    y = resample_poly(x, 3, 2)
    want = np.sin(2 * np.pi * 0.02 * np.arange(y.size) * 2 / 3)
    assert np.abs(y[100:-100] - want[100:-100]).max() < 1e-3
    assert resample_poly(x, 5, 5).size == x.size  # identity via gcd


def test_resample_antialiasing():
    """Content above the target Nyquist must be attenuated, not aliased."""
    n = 6000
    hi = np.sin(2 * np.pi * 0.45 * np.arange(n))  # near orig Nyquist
    y = resample_poly(hi, 1, 3)  # target Nyquist = 1/6 cycles/sample
    assert np.sqrt((y[50:-50] ** 2).mean()) < 0.05 * np.sqrt((hi**2).mean())


def test_time_warp_deterministic_and_bounded():
    x = np.sin(np.arange(500) * 0.05)
    a = time_warp_np(x, seed=11)
    b = time_warp_np(x, seed=11)
    assert np.array_equal(a, b)
    assert a.shape == x.shape
    assert a[0] == x[0] and abs(a[-1] - x[-1]) < 1e-9
    assert not np.array_equal(a, x)  # it actually warps
    assert a.min() >= x.min() - 1e-9 and a.max() <= x.max() + 1e-9  # interp bounds


def test_resample_fir_exact_formula_matches_resample_poly():
    """The strided per-output dot product behind the resample_fir_exact
    full oracle is the same math as resample_poly's
    zero-stuff -> convolve -> decimate (only summation order differs)."""
    import numpy as np

    from crossai_ts_spark.entry_queries import _fir_exact_taps
    from crossai_ts_spark.functions.dsp2 import resample_poly

    rng = np.random.default_rng(11)
    x = rng.integers(0, 255, 64).astype(np.float64)
    y_poly = resample_poly(x, 2, 3)
    taps = np.asarray(_fir_exact_taps())
    y_manual = np.array([
        sum(x[s] * taps[72 + 3 * j - 2 * s]
            for s in range(64) if 0 <= 72 + 3 * j - 2 * s <= 144)
        for j in range(43)
    ])
    assert y_poly.size == 43
    np.testing.assert_allclose(y_manual, y_poly, rtol=1e-12, atol=1e-12)


def test_pcen_docs_matches_numpy_fold_and_reference_surface(spark):
    """pcen_docs' JVM fold == an explicit numpy float64 fold with the same
    op order, chk-EXACT; and the per-token v values are pcen_base with
    alpha=1, r=0.5 (reference surface, allclose — pcen_base uses **0.5
    which may differ from sqrt by an ulp)."""
    import numpy as np

    from crossai_ts_spark.functions.dsp2 import pcen_docs
    from crossai_ts_spark.sources.tokenize import tokenize_documents

    rows = [(i, "the quick brown fox %d jumps" % i * (i + 1), "en", "t") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    got = pcen_docs(tokenize_documents(docs)).toPandas().set_index("doc_id").pcen_chk

    s, eps, delta, Q = 0.1, 1e-6, 2.0, 1048576.0
    for i, text, _, _ in rows:
        E = np.array([ord(c) for c in text], dtype=np.float64)
        m, chk = 0.0, 0.0
        for e in E:
            m = (1.0 - s) * m + s * e
            v = np.sqrt(e / (eps + m) + delta) - np.sqrt(delta)
            chk += np.floor(v * Q)
        assert got.loc[str(i)] == int(chk)
        # reference-surface tie: same values through pcen_base(alpha=1, r=.5)
        ref = pcen_base(E[None, :], alpha=1.0, delta=delta, r=0.5, s=s, eps=eps)[0]
        m2, vs = 0.0, []
        for e in E:
            m2 = (1.0 - s) * m2 + s * e
            vs.append(np.sqrt(e / (eps + m2) + delta) - np.sqrt(delta))
        assert np.allclose(ref, np.array(vs), rtol=1e-12)
