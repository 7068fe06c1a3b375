"""Float literals that parse to the exact float64 they print, in the Spark
expressions and in the DuckDB oracle SQL built from the same constants.

Each value is a string cast of its ``repr()`` (the shortest text that
round-trips), never a bare decimal: DuckDB parses a bare decimal as DECIMAL,
and the DECIMAL -> DOUBLE conversion double-rounds (measured 1 ULP off on
17-digit values), while ``'…'::DOUBLE`` parses straight to the nearest
double.
"""

from __future__ import annotations


def duck_double(v: float) -> str:
    """DuckDB ``'…'::DOUBLE``."""
    return f"'{float(v)!r}'::DOUBLE"


def duck_doubles(vs) -> str:
    """DuckDB list ``['…'::DOUBLE, ...]``."""
    return "[" + ", ".join(map(duck_double, vs)) + "]"


def spark_doubles(vs) -> str:
    """Spark SQL ``array(cast('…' as double), ...)``."""
    return "array(" + ", ".join(f"cast('{float(v)!r}' as double)" for v in vs) + ")"
