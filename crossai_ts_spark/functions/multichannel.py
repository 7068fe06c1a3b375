"""Multi-channel signal surface — cross-channel reductions and 2D resample.

Reference parity: caits/properties.py:74-108 (``magnitude_signal`` =
per-sample sqrt(sum over channels x^2), ``sma_signal`` = per-sample
sum(|x|)) and caits/preprocessing.py:63-100 (``resample_2d`` = the linear
np.interp resample of caits/preprocessing.py:24-60 applied per channel).

Layout: a multi-channel signal is a row of equal-length ``array<double>``
columns, one per channel — the columnar translation of the reference's
(n_samples, n_channels) ndarray. All helpers are NATIVE Column expressions
(arrays_zip / transform, whole-stage codegen, no Python), so cross-channel
math runs without a shuffle and without leaving the JVM.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# resample_2d's source and target rates; the DuckDB oracle reads them too
NATIVE_SR, TARGET_SR = 100, 64


def magnitude_signal(*chans: str) -> Column:
    """Per-sample magnitude across channels: sqrt(sum_c x_c^2) — an
    array<double> as long as the input channels (caits/properties.py:92).
    """
    if len(chans) < 1:
        raise ValueError("magnitude_signal needs at least one channel column")
    z = F.arrays_zip(*[F.col(c).alias(c) for c in chans])
    return F.transform(
        z, lambda s: F.sqrt(reduce(lambda a, b: a + b, [s[c] * s[c] for c in chans]))
    )


def sma_signal(*chans: str) -> Column:
    """Per-sample SMA across channels: sum_c |x_c| (caits/properties.py:74)."""
    if len(chans) < 1:
        raise ValueError("sma_signal needs at least one channel column")
    z = F.arrays_zip(*[F.col(c).alias(c) for c in chans])
    return F.transform(
        z, lambda s: reduce(lambda a, b: a + b, [F.abs(s[c]) for c in chans])
    )


def _interp_expr(chan: str) -> str:
    # np.interp on index units: i0 = floor(p), i1 = min(i0+1, n-1),
    # v = fp[i0] + (p - i0) * (fp[i1] - fp[i0]); 1-based element_at
    i0 = "cast(floor(p) as int) + 1"
    i1 = "least(cast(floor(p) as int) + 2, _n2d)"
    return (
        f"transform(_pos2d, p -> element_at({chan}, {i0}) + (p - floor(p)) * "
        f"(element_at({chan}, {i1}) - element_at({chan}, {i0})))"
    )


def resample_2d(df: DataFrame) -> DataFrame:
    """Per-channel linear resample of ``ch0`` and ``ch1`` from NATIVE_SR to
    TARGET_SR (caits/preprocessing.py:63-100 / resample_signal:24-60
    semantics): duration = n/NATIVE_SR, output length
    m = floor(duration * TARGET_SR)  (the reference's int() truncation),
    sample positions = linspace over the source index axis, values =
    np.interp. Adds one ``<chan>_rs`` array column per channel plus
    ``n_rs`` (the output length). Pure native expressions; every channel
    shares the one materialized position array.
    """
    out = df.withColumn("_n2d", F.size(F.col("ch0")).cast("int"))
    out = out.withColumn(
        "n_rs",
        F.floor(
            F.col("_n2d").cast("double") / F.lit(float(NATIVE_SR)) * F.lit(float(TARGET_SR))
        ).cast("int"),
    )
    # guard: Spark's sequence(0, -1) DESCENDS — empty output needs array()
    out = out.withColumn(
        "_pos2d",
        F.expr(
            "CASE WHEN n_rs <= 0 THEN array() ELSE "
            "transform(sequence(0, n_rs - 1), j -> "
            "  CASE WHEN n_rs > 1 AND _n2d > 1 THEN "
            "    cast(j as double) * cast(_n2d - 1 as double) / cast(n_rs - 1 as double) "
            "  ELSE cast(0 as double) END) END"
        ),
    )
    for c in ("ch0", "ch1"):
        out = out.withColumn(f"{c}_rs", F.expr(_interp_expr(c)))
    return out.drop("_n2d", "_pos2d")
