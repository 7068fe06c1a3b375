"""Numpy references for the signal kernels: scalar spline checksum, PCEN,
Butterworth frequency responses and the EP3 per-recording chain.

Tests compare the engine kernels against these; no query, job or stream
runs them.

  spline_chk_scalar   the fixed-op-order twin of functions/spline.py's
                      vectorized path that the DuckDB oracle SQL
                      unrolls for the ``cubic_spline_interp`` query
                      (tests/test_spline.py)
  pcen_base           caits/fe/_pcen.py:140-238 over a (freq, time) energy
                      matrix; ``dsp2.pcen_docs`` is its Spark fold
                      (tests/test_dsp2.py)
  sos_freq_response / butter_analog_mag
                      the digital response of an SOS cascade and the closed
                      form the bilinear design must hit (tests/test_iir.py)
  sosfiltfilt         per-row zero-phase filtering (scipy.sosfiltfilt
                      semantics); ``iir.sosfiltfilt_batch`` must equal it
                      bitwise row by row (tests/test_iir.py)
  ep3_user_counts     one recording through the EP3 chain of
                      plans/ep3.py (tests/test_ep3.py)
"""

from __future__ import annotations

import numpy as np

from ..functions.iir import _prewarp, butter_sos, sosfilt, sosfilt_zi
from ..functions.spline import spline_eval, spline_slopes
from ..plans.ep3 import DUR_MIN, GT_ERR_FRAC, IOU_TH, PROB_TH, STEP, _iou, _runs


def sosfiltfilt(sos: np.ndarray, x: np.ndarray, padlen: int | None = None) -> np.ndarray:
    """Zero-phase forward-backward filtering (scipy.sosfiltfilt semantics:
    odd-reflection padding, zi scaled by the edge samples)."""
    x = np.asarray(x, dtype=np.float64)
    n_sec = sos.shape[0]
    if padlen is None:
        padlen = 3 * (2 * n_sec + 1)
    if x.size <= padlen:
        padlen = max(0, x.size - 1)
    if padlen > 0:
        left = 2.0 * x[0] - x[padlen:0:-1]
        right = 2.0 * x[-1] - x[-2 : -padlen - 2 : -1]
        ext = np.concatenate([left, x, right])
    else:
        ext = x
    zi = sosfilt_zi(sos)
    y = sosfilt(sos, ext, zi=zi * ext[0])
    y = y[::-1]
    y = sosfilt(sos, y, zi=zi * y[0])
    y = y[::-1]
    if padlen > 0:
        y = y[padlen:-padlen]
    return y


def spline_chk_scalar(xs: list[float], ys: list[float], quantize: float = 1048576.0) -> float:
    """Not-a-knot spline through EXACTLY len(xs) knots, evaluated at every
    integer t in [xs[0], xs[-1]], checksummed as sum(floor(p(t)*Q)).

    Scalar, fixed op order — entry_queries' unrolled DuckDB oracle mirrors
    every operation, so the result is bitwise identical across engines.
    Requires n >= 4 (the query shapes its input that way).
    """
    n = len(xs)
    h = [xs[i + 1] - xs[i] for i in range(n - 1)]
    d = [(ys[i + 1] - ys[i]) / h[i] for i in range(n - 1)]
    lo = [0.0] * n
    di = [0.0] * n
    up = [0.0] * n
    b = [0.0] * n
    di[0] = h[1]
    up[0] = h[0] + h[1]
    b[0] = ((h[0] + 2.0 * (h[0] + h[1])) * h[1] * d[0] + h[0] * h[0] * d[1]) / (h[0] + h[1])
    for i in range(1, n - 1):
        lo[i] = h[i]
        di[i] = 2.0 * (h[i - 1] + h[i])
        up[i] = h[i - 1]
        b[i] = 3.0 * (h[i] * d[i - 1] + h[i - 1] * d[i])
    lo[n - 1] = h[n - 2] + h[n - 3]
    di[n - 1] = h[n - 3]
    b[n - 1] = (
        h[n - 2] * h[n - 2] * d[n - 3]
        + (2.0 * (h[n - 2] + h[n - 3]) + h[n - 2]) * h[n - 3] * d[n - 2]
    ) / (h[n - 2] + h[n - 3])
    cp = [0.0] * n
    bp = [0.0] * n
    cp[0] = up[0] / di[0]
    bp[0] = b[0] / di[0]
    for k in range(1, n):
        den = di[k] - lo[k] * cp[k - 1]
        cp[k] = (up[k] / den) if k < n - 1 else 0.0
        bp[k] = (b[k] - lo[k] * bp[k - 1]) / den
    m = [0.0] * n
    m[n - 1] = bp[n - 1]
    for k in range(n - 2, -1, -1):
        m[k] = bp[k] - cp[k] * m[k + 1]
    chk = 0.0
    t = xs[0]
    import math

    while t <= xs[-1]:
        # interval search identical to the SQL: largest i with xs[i] <= t,
        # clamped to n-2
        i = n - 2
        for j in range(n - 1):
            if xs[j] <= t < xs[j + 1]:
                i = j
                break
        s = (t - xs[i]) / h[i]
        s2 = s * s
        s3 = s2 * s
        val = (
            (2.0 * s3 - 3.0 * s2 + 1.0) * ys[i]
            + (s3 - 2.0 * s2 + s) * (m[i] * h[i])
            + (-2.0 * s3 + 3.0 * s2) * ys[i + 1]
            + (s3 - s2) * (m[i + 1] * h[i])
        )
        chk += math.floor(val * quantize)
        t += 1.0
    return chk


def pcen_base(
    E: np.ndarray,
    alpha: float = 0.98,
    delta: float = 2.0,
    r: float = 0.5,
    s: float = 0.025,
    eps: float = 1e-6,
) -> np.ndarray:
    """PCEN over (freq, time) energy: forward first-order IIR smoother
    (zero-initialized, as the reference documents) + dynamic range
    compression."""
    E = np.asarray(E, dtype=np.float64)
    M = np.empty_like(E)
    prev = np.zeros(E.shape[0])
    for t in range(E.shape[1]):
        prev = (1.0 - s) * prev + s * E[:, t]
        M[:, t] = prev
    return (E / (eps + M) ** alpha + delta) ** r - delta**r


def sos_freq_response(sos: np.ndarray, w: np.ndarray) -> np.ndarray:
    """|H(e^{jw})| of the cascade at radian frequencies w (tests)."""
    z = np.exp(-1j * np.asarray(w, dtype=np.float64))
    h = np.ones_like(z, dtype=complex)
    for b0, b1, b2, _, a1, a2 in sos:
        h *= (b0 + b1 * z + b2 * z**2) / (1.0 + a1 * z + a2 * z**2)
    return np.abs(h)


def butter_analog_mag(
    w: np.ndarray, order: int, cutoff, fs: float, btype: str
) -> np.ndarray:
    """Closed-form magnitude the digital design MUST hit at frequency w
    (radians/sample): bilinear maps w -> analog W = 2*fs_b*tan(w/2), and
    the analog Butterworth magnitude is 1/sqrt(1 + (W/Wc)^2n) (lowpass),
    with the standard band transforms for the other types."""
    nyq = 0.5 * fs
    W = 4.0 * np.tan(np.asarray(w, dtype=np.float64) / 2.0)  # 2*fs_b*tan, fs_b=2
    if btype in ("lowpass", "highpass"):
        Wc = _prewarp(float(cutoff) / nyq)
        if btype == "lowpass":
            r = W / Wc
        else:
            with np.errstate(divide="ignore"):
                r = Wc / W
    else:
        lo, hi = (float(cutoff[0]) / nyq, float(cutoff[1]) / nyq)
        W1, W2 = _prewarp(lo), _prewarp(hi)
        Wo, Bw = np.sqrt(W1 * W2), W2 - W1
        with np.errstate(divide="ignore", invalid="ignore"):
            if btype == "bandpass":
                r = (W**2 - Wo**2) / (Bw * W)
            else:
                r = (Bw * W) / (W**2 - Wo**2)
    with np.errstate(over="ignore"):
        return 1.0 / np.sqrt(1.0 + np.abs(r) ** (2 * order))


def ep3_user_counts(
    click_probs: np.ndarray,
    error_fracs: np.ndarray,
    step: int = STEP,
    dur_min: int = DUR_MIN,
    prob_th: float = PROB_TH,
    iou_th: float = IOU_TH,
    sos: np.ndarray | None = None,
) -> tuple[int, int, int, int]:
    """(corrects, deletions, substitutions, insertions) for one recording.

    click_probs: per-window probabilities (knots at window midpoints,
    interp_choice=2); error_fracs: per-window ground-truth signal — windows
    with error_frac >= GT_ERR_FRAC become GT events spanning the window.
    """
    n_w = click_probs.size
    if sos is None:
        sos = butter_sos(4, 0.02, 1.0, "lowpass")
    # 1. spline upsample to the sample grid (interp_choice=2 midpoints)
    xk = np.arange(n_w, dtype=np.float64) * step + step // 2
    m = spline_slopes(xk, click_probs)
    t = np.arange(n_w * step, dtype=np.float64)
    interp = spline_eval(xk, click_probs, m, t)
    # 2. Butterworth zero-phase smoothing
    smooth = sosfiltfilt(sos, interp)
    # 3-5. threshold -> continuous events -> duration threshold
    pred = [(s, e) for s, e in _runs(smooth >= prob_th) if e - s >= dur_min]
    # ground truth events: contiguous runs of GT windows merge into one
    # event (get_gt_events_from_dict yields intervals, not single windows)
    gt = [(ws * step, we * step) for ws, we in _runs(np.asarray(error_fracs) >= GT_ERR_FRAC)]
    # 6. classify (single-class: no substitutions possible)
    C = D = S = I = 0
    for pe in pred:
        best = max((_iou(pe, g) for g in gt), default=0.0)
        if best == 0.0:
            I += 1
        elif best < iou_th:
            D += 1
        else:
            C += 1
    return C, D, S, I
