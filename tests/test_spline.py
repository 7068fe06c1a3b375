"""Not-a-knot cubic spline (functions/spline.py) — scipy-free verification:
a cubic polynomial's not-a-knot spline IS the polynomial (everywhere,
including extrapolation), C2 continuity holds at interior knots, and the
scalar oracle path is bitwise-consistent with the vectorized one."""

from __future__ import annotations

import math

import numpy as np
import pytest

from crossai_ts_spark.functions.spline import spline_eval, spline_slopes
from crossai_ts_spark.oracle.signal import spline_chk_scalar


@pytest.mark.parametrize("trial", range(10))
def test_reproduces_cubic_polynomial(trial):
    rng = np.random.default_rng(trial)
    c = rng.normal(size=4)
    x = np.sort(rng.uniform(0, 10, size=int(rng.integers(4, 12))))
    x += np.arange(x.size) * 0.05
    p = lambda t: c[0] + c[1] * t + c[2] * t * t + c[3] * t**3
    y = p(x)
    m = spline_slopes(x, y)
    t = np.linspace(-2, 12, 333)
    np.testing.assert_allclose(spline_eval(x, y, m, t), p(t), rtol=1e-8, atol=1e-7)


def test_c2_continuity_at_interior_knots():
    x = np.array([0.0, 1.0, 2.5, 3.0, 4.5, 6.0])
    y = np.array([1.0, -2.0, 0.5, 3.0, 2.0, -1.0])
    m = spline_slopes(x, y)
    eps = 1e-6
    for xi in x[1:-1]:
        pts = lambda ts: spline_eval(x, y, m, np.asarray(ts))
        d2l = (pts([xi - 2 * eps])[0] - 2 * pts([xi - eps])[0] + pts([xi])[0]) / eps**2
        d2r = (pts([xi])[0] - 2 * pts([xi + eps])[0] + pts([xi + 2 * eps])[0]) / eps**2
        assert abs(d2l - d2r) < 1e-2


def test_degenerate_two_and_three_knots():
    x2, y2 = np.array([0.0, 1.0]), np.array([2.0, 4.0])
    m2 = spline_slopes(x2, y2)
    np.testing.assert_allclose(spline_eval(x2, y2, m2, np.array([0.5, 2.0])), [3.0, 6.0])
    xq = np.array([0.0, 1.0, 2.0])
    yq = 2 * xq**2 - 3 * xq + 1
    mq = spline_slopes(xq, yq)
    tq = np.array([-1.0, 0.5, 1.7, 3.0])
    np.testing.assert_allclose(spline_eval(xq, yq, mq, tq), 2 * tq**2 - 3 * tq + 1, rtol=1e-12)


def test_interpolation_passes_through_knots():
    rng = np.random.default_rng(9)
    x = np.cumsum(rng.uniform(0.5, 2.0, size=9))
    y = rng.normal(size=9)
    m = spline_slopes(x, y)
    np.testing.assert_allclose(spline_eval(x, y, m, x), y, rtol=1e-12, atol=1e-12)


def test_scalar_chk_matches_vectorized():
    """spline_chk_scalar (the SQL-oracle-mirrored path) must equal the
    checksum computed from the vectorized spline, bitwise."""
    rng = np.random.default_rng(5)
    for _ in range(5):
        xs = np.cumsum(rng.integers(1, 30, size=8)).astype(np.float64)
        ys = rng.uniform(size=8)
        got = spline_chk_scalar(list(xs), list(ys), 1048576.0)
        m = spline_slopes(xs, ys)
        t = np.arange(math.ceil(xs[0]), math.floor(xs[-1]) + 1, dtype=np.float64)
        want = np.floor(spline_eval(xs, ys, m, t) * 1048576.0).sum()
        assert got == want
