"""tools/bench_scaling.py warm-up rule — no Spark needed."""

from __future__ import annotations

from tools.bench_scaling import at_floor


def _flags(pairs):
    return [at_floor(pairs[:i], p) for i, p in enumerate(pairs)]


def test_falling_walls_never_read_at_floor():
    """The local[4] warm-up walls of a --docs 2000 smoke fell 2.41, 1.63,
    1.26, 1.14 s; each pair set a new minimum more than 8% below the
    earlier ones, so none is at floor (against a running minimum that
    includes the pair itself, every one was)."""
    pairs = list(zip([1.66, 1.65, 1.67, 1.66], [2.41, 1.63, 1.26, 1.14]))
    assert _flags(pairs) == [False, False, False, False]


def test_settled_walls_read_at_floor_in_both_directions():
    """Once both levels hold within 8% of their earlier minima, above or
    below, the pair is at floor; the first pair never is."""
    pairs = [(1.70, 1.20), (1.66, 1.16), (1.71, 1.10), (1.62, 1.18), (1.60, 1.30)]
    assert _flags(pairs) == [False, True, True, True, False]
