"""Cubic spline interpolation (not-a-knot), from scratch in numpy.

Parity target: caits/performance/utils.py:51-107 ``interpolate_probabilities``
which calls scipy.interpolate.CubicSpline (default bc_type='not-a-knot',
extrapolate=True). No scipy in the sandbox, so the spline is re-derived:

Unknowns are the knot slopes m_i. C2 continuity at interior knots gives the
tridiagonal system (h_i = x_{i+1}-x_i, d_i = (y_{i+1}-y_i)/h_i):

  interior i:  h_i*m_{i-1} + 2(h_{i-1}+h_i)*m_i + h_{i-1}*m_{i+1}
                 = 3*(h_i*d_{i-1} + h_{i-1}*d_i)

not-a-knot ends (third-derivative continuity across the first/last interior
knot — the scipy default):

  row 0:    h_1*m_0 + (h_0+h_1)*m_1
              = ((h_0 + 2*(h_0+h_1))*h_1*d_0 + h_0^2*d_1) / (h_0+h_1)
  row n-1:  (h_{-1}+h_{-2})*m_{n-2} + h_{-2}*m_{n-1}
              = (h_{-1}^2*d_{-2} + (2*(h_{-1}+h_{-2})+h_{-1})*h_{-2}*d_{-1})
                 / (h_{-1}+h_{-2})

Evaluation is the cubic Hermite form on each interval; out-of-range points
use the first/last interval polynomial (scipy extrapolate=True).

``spline_slopes`` / ``spline_eval`` are the vectorized engine kernels (the
EP3 chain and the spline queries). The scalar reference with a FIXED
operation order that the DuckDB oracle in entry_queries mirrors op-for-op
is ``oracle/signal.spline_chk_scalar``.

n == 2 degenerates to the straight line, n == 3 to the unique parabola
(scipy behaves identically for not-a-knot).
"""

from __future__ import annotations

import numpy as np


def spline_slopes(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Not-a-knot cubic spline slopes m_i at the knots."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = x.size
    if n < 2:
        raise ValueError("need at least 2 knots")
    h = np.diff(x)
    d = np.diff(y) / h
    if n == 2:
        return np.array([d[0], d[0]])
    if n == 3:
        # unique parabola through 3 points: slopes are its derivative
        # p(t) = y0 L0 + y1 L1 + y2 L2 (Lagrange); m_i = p'(x_i)
        x0, x1, x2 = x
        denom0 = (x0 - x1) * (x0 - x2)
        denom1 = (x1 - x0) * (x1 - x2)
        denom2 = (x2 - x0) * (x2 - x1)
        def dp(t):
            return (
                y[0] * (2 * t - x1 - x2) / denom0
                + y[1] * (2 * t - x0 - x2) / denom1
                + y[2] * (2 * t - x0 - x1) / denom2
            )
        return np.array([dp(x0), dp(x1), dp(x2)])
    lo = np.empty(n)  # sub-diagonal (A[i, i-1])
    di = np.empty(n)  # diagonal
    up = np.empty(n)  # super-diagonal (A[i, i+1])
    b = np.empty(n)
    di[0] = h[1]
    up[0] = h[0] + h[1]
    b[0] = ((h[0] + 2.0 * (h[0] + h[1])) * h[1] * d[0] + h[0] ** 2 * d[1]) / (h[0] + h[1])
    i = np.arange(1, n - 1)
    lo[i] = h[i]
    di[i] = 2.0 * (h[i - 1] + h[i])
    up[i] = h[i - 1]
    b[i] = 3.0 * (h[i] * d[i - 1] + h[i - 1] * d[i])
    lo[-1] = h[-1] + h[-2]
    di[-1] = h[-2]
    b[-1] = (h[-1] ** 2 * d[-2] + (2.0 * (h[-1] + h[-2]) + h[-1]) * h[-2] * d[-1]) / (
        h[-1] + h[-2]
    )
    # Thomas algorithm
    cp = np.empty(n)
    bp = np.empty(n)
    cp[0] = up[0] / di[0]
    bp[0] = b[0] / di[0]
    for k in range(1, n):
        den = di[k] - lo[k] * cp[k - 1]
        cp[k] = (up[k] / den) if k < n - 1 else 0.0
        bp[k] = (b[k] - lo[k] * bp[k - 1]) / den
    m = np.empty(n)
    m[-1] = bp[-1]
    for k in range(n - 2, -1, -1):
        m[k] = bp[k] - cp[k] * m[k + 1]
    return m


def spline_eval(x: np.ndarray, y: np.ndarray, m: np.ndarray, t: np.ndarray) -> np.ndarray:
    """Evaluate the Hermite-form spline at points t (extrapolating with the
    end polynomials, scipy extrapolate=True)."""
    x = np.asarray(x, dtype=np.float64)
    t = np.asarray(t, dtype=np.float64)
    idx = np.clip(np.searchsorted(x, t, side="right") - 1, 0, x.size - 2)
    h = x[idx + 1] - x[idx]
    s = (t - x[idx]) / h
    y0, y1 = y[idx], y[idx + 1]
    m0, m1 = m[idx] * h, m[idx + 1] * h
    s2 = s * s
    s3 = s2 * s
    return (
        (2 * s3 - 3 * s2 + 1) * y0
        + (s3 - 2 * s2 + s) * m0
        + (-2 * s3 + 3 * s2) * y1
        + (s3 - s2) * m1
    )
