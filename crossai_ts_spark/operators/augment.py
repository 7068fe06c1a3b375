"""Signal augmentation natives (caits/augmentation/_augment_1d.py).

Where the reference uses np.random, we use HASH-DERIVED noise
(md5(doc_id, offset) -> uniform int) so augmented outputs are
deterministic, partitioning-invariant, AND reproducible in any engine —
seeds become part of the data contract instead of runtime state.
`F.rand(seed)` is only row-order-stable, not cross-engine; the hash route
is both.

  polarity_inversion  :48  -> tokens * -1
  random_gain         :29  -> tokens * g, g from hash-uniform [0.8, 1.2)
  add_white_noise     :12  -> tokens + 10 * (hash-uniform - 0.5)
  reverse_ts          :553 -> reverse(tokens)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..literals import spark_doubles

# (md5 of "<doc_id>:<i>") first 8 hex chars -> uniform bigint in [0, 2^32)
_HASH_U32 = "conv(substring(md5(cast(concat({key}, ':', {i}) as binary)), 1, 8), 16, 10)"

# drift_additive's scale and knot count, convolve_hann's window length; the
# DuckDB oracles build their SQL from the same values
MAX_DRIFT = 0.5
N_ANCHORS = 5
CONV_SIZE = 7


def polarity_inversion(df: DataFrame) -> DataFrame:
    return df.withColumn("tokens_aug", F.expr("transform(tokens, x -> -x)"))


def reverse_ts(df: DataFrame) -> DataFrame:
    return df.withColumn("tokens_aug", F.reverse("tokens"))


def random_gain(df: DataFrame) -> DataFrame:
    """One gain per doc from the doc_id hash; output float array."""
    u = _HASH_U32.format(key="doc_id", i="0")
    gain = f"(0.8 + ({u} / 4294967296.0) * (1.2 - 0.8))"
    return df.withColumn(
        "tokens_aug", F.expr(f"transform(tokens, x -> cast(x as double) * {gain})")
    ).withColumn("gain", F.expr(gain))


def add_white_noise(df: DataFrame) -> DataFrame:
    """Per-sample hash-uniform noise in [-5, 5); output float array."""
    u = _HASH_U32.format(key="doc_id", i="i")
    return df.withColumn(
        "tokens_aug",
        F.expr(
            f"transform(tokens, (x, i) -> cast(x as double) + 10.0 * ({u} / 4294967296.0 - 0.5))"
        ),
    )


# ---------------------------------------------------------------- round 2
# tsaug-parity natives (caits/augmentation/_augment_1d.py:205-656). Same
# hash-deterministic contract as above: every "random" choice is a pure
# function of (doc_id, index), so results are partitioning-invariant and
# reproducible in DuckDB for full oracles.


def pool_ave(df: DataFrame) -> DataFrame:
    """pool_ts kind='ave' (:383): resolution reduction, length preserved —
    each element replaced by the mean of its non-overlapping 4-window."""
    expr = """
    transform(tokens, (x, i) -> 
      aggregate(slice(tokens, (i div 4) * 4 + 1, 4),
                cast(0 as bigint), (a, v) -> a + v) 
      / cast(size(slice(tokens, (i div 4) * 4 + 1, 4)) as double))
    """
    return df.withColumn("tokens_aug", F.expr(expr))


def quantize_uniform(df: DataFrame) -> DataFrame:
    """quantize_ts how='uniform' (:438): snap each value to the nearest of
    10 levels spanning [min, max] (ties half-up via floor(q+0.5))."""
    # min/max carried once per row through array_repeat (a plain expression
    # Catalyst cannot inline into the lambda) — without it array_min/max
    # re-evaluate PER ELEMENT (O(n^2); measured 30s -> 3s on the query)
    carry = (
        "array_repeat(named_struct("
        "'mn', cast(array_min(tokens) as double), "
        "'mx', cast(array_max(tokens) as double)), size(tokens))"
    )
    expr = f"""
    zip_with(tokens, {carry}, (x, c) ->
      c.mn + floor((cast(x as double) - c.mn) / (c.mx - c.mn) * 9.0 + 0.5)
      * (c.mx - c.mn) / 9.0)
    """
    return df.withColumn("tokens_aug", F.expr(expr))


def crop_ts(df: DataFrame) -> DataFrame:
    """crop_ts (:205): one deterministic random 32-window per doc."""
    u = _HASH_U32.format(key="doc_id", i="0")
    start = f"(1 + cast({u} % greatest(size(tokens) - 32 + 1, 1) as int))"
    return df.filter(F.expr("size(tokens) >= 32")).withColumn(
        "tokens_aug", F.expr(f"slice(tokens, {start}, 32)")
    )


def resize_linear(df: DataFrame) -> DataFrame:
    """resize_ts (:503): linear interpolation onto a new uniform 64-point grid."""
    L1 = 63
    expr = f"""
    transform(sequence(0, {L1}), j -> 
      cast(element_at(tokens, cast(floor(j * (size(tokens) - 1) / cast({L1} as double)) as int) + 1) as double)
      * (1.0 - (j * (size(tokens) - 1) / cast({L1} as double) - floor(j * (size(tokens) - 1) / cast({L1} as double))))
      + cast(element_at(tokens, least(cast(floor(j * (size(tokens) - 1) / cast({L1} as double)) as int) + 2,
                                      size(tokens))) as double)
      * (j * (size(tokens) - 1) / cast({L1} as double) - floor(j * (size(tokens) - 1) / cast({L1} as double))))
    """
    return df.filter(F.expr("size(tokens) >= 2")).withColumn("tokens_aug", F.expr(expr))


def drift_additive(df: DataFrame) -> DataFrame:
    """drift_ts kind='additive' (:259, tsaug Drift): a smooth random curve
    through N_ANCHORS knots (hash-derived random walk, normalized to
    max|.| = 1, scaled by MAX_DRIFT * value range), linearly interpolated
    and added. Deterministic: the walk is a pure function of doc_id."""
    K = N_ANCHORS - 1  # segments
    us = [_HASH_U32.format(key="doc_id", i=str(j)) for j in range(1, N_ANCHORS)]
    walk = ["cast(0.0 as double)"]
    for j, u in enumerate(us):
        walk.append(f"({walk[-1]} + ({u} / 4294967296.0 - 0.5))")
    anchors = "array(" + ", ".join(walk) + ")"
    mx = f"array_max(transform({anchors}, a -> abs(a)))"
    rng_ = "(cast(array_max(tokens) as double) - cast(array_min(tokens) as double))"
    # Catalyst inlines outer expressions into HOF lambdas (no CSE across the
    # boundary): referencing `anchors` directly would re-run the 4-md5 walk
    # PER ELEMENT (measured ~100x on the drift query). array_repeat is a
    # plain expression, so the struct below evaluates ONCE per row and the
    # zip_with lambda reads precomputed fields.
    carry = (
        f"array_repeat(named_struct('a', {anchors}, 'mx', {mx}, 'rng', {rng_}),"
        " size(tokens))"
    )
    pos = f"(i * cast({K} as double) / greatest(size(tokens) - 1, 1))"
    j0 = f"least(cast(floor({pos}) as int), {K - 1})"
    frac = f"({pos} - {j0})"
    dr = (
        f"(element_at(c.a, {j0} + 1) * (1.0 - {frac})"
        f" + element_at(c.a, {j0} + 2) * {frac})"
        f" / nullif(c.mx, 0.0) * {MAX_DRIFT} * c.rng"
    )
    # zip_with lambdas have no index argument; emulate (x, i) by zipping the
    # carry struct with an (x, i) struct sequence
    expr = (
        f"zip_with(transform(sequence(0, size(tokens) - 1), i -> "
        f"named_struct('x', element_at(tokens, i + 1), 'i', i)), {carry}, "
        f"(e, c) -> cast(e.x as double) + "
        + dr.replace("(i * ", "(e.i * ")
        + ")"
    )
    return df.withColumn("tokens_aug", F.expr(expr))


def convolve_hann(df: DataFrame) -> DataFrame:
    """convolve_ts (:144, tsaug Convolve window='hann'): 'same'-mode
    convolution with a CONV_SIZE hann kernel, zero-padded edges. The (symmetric)
    kernel makes convolution == correlation, so the expression is a direct
    weighted sum over the centered window."""
    from ..functions.dsp import hann

    w = hann(CONV_SIZE)
    w = w / w.sum()  # tsaug normalizes the window
    half = CONV_SIZE // 2
    expr = f"""
    transform(tokens, (x, i) ->
      aggregate(sequence(0, {CONV_SIZE - 1}), cast(0.0 as double), (a, k) ->
        a + element_at({spark_doubles(w)}, k + 1)
          * if(i + k - {half} >= 0 and i + k - {half} < size(tokens),
               cast(element_at(tokens, i + k - {half} + 1) as double), cast(0.0 as double))))
    """
    return df.withColumn("tokens_aug", F.expr(expr))
