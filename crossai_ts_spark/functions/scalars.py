"""Scalar column functions: mel scale and per-doc normalization.

Pure Catalyst expressions (whole-stage codegen'd) — the reference's numpy
versions map 1:1 (SURVEY §2.7):

  hz_to_mel_htk     caits/fe/core_spectrum/_utils.py:234 (htk variant)
  normalize_tokens  caits/preprocessing.py:4-21     x / max(|x|)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hz_to_mel_htk(f: Column) -> Column:
    return 2595.0 * F.log10(F.lit(1.0) + f / 700.0)


def normalize_tokens(df: DataFrame) -> DataFrame:
    """x / max(|x|) per doc, inside the array cell (narrow, no window).

    O(n) per doc: Catalyst inlines projected columns into HOF lambdas (no
    CSE across a lambda boundary), so referencing the max from inside
    ``transform`` re-evaluates array_max PER ELEMENT — O(n^2). Instead the
    max is materialized once per row as the denominator array of a
    ``zip_with``: array_repeat is a plain (non-lambda) expression, so its
    array_max child is evaluated exactly once per row.
    """
    return df.withColumn(
        "tokens_norm",
        F.expr(
            "zip_with(tokens, "
            "array_repeat(cast(array_max(transform(tokens, y -> abs(y))) as double), size(tokens)), "
            "(x, m) -> cast(x as double) / m)"
        ),
    )
