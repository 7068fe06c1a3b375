"""Temperature-mixing APPLICATION: deterministically subsample each source
to its temperature share of a token budget — the step after
`source_mixing_weights` computes the CC100/XLM-R multinomial shares
(n_tokens^alpha, upweighting low-resource shards): actually build the
mixed corpus.

Per-doc keep decision is a pure hash function — keep iff
md5_60(doc_id || ':mix') < floor(rate * 2^60) — so the sample is
reproducible across engines, runs, partitionings, and retries (no RNG
state anywhere), the property a resumable 100-TB pipeline needs. The
whole pass is one map-side-combined stats aggregate, a broadcast of the
per-source thresholds (8 rows), and a narrow filter: raw docs never
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_Q60 = 1152921504606846976.0  # 2^60, exact in a double

# alpha quantized to Q16: 45875/65536 = 0.69999695... — a DYADIC exponent,
# so n^alpha is a chain of sqrt() and * only. IEEE 754 requires both to be
# correctly rounded (JVM Math.sqrt, C++ std::sqrt, hardware fsqrt), unlike
# libm pow(), whose 1-ulp engine-to-engine slack flips floor(x * 2^20)
# boundaries at large n (measured: 31/8000 w_q mismatches Spark vs DuckDB
# for n up to 10^13 with pow). Every intermediate double in the chain is
# bitwise identical across engines, so w_q is deterministic at ANY n.
ALPHA_Q16 = 45875
ALPHA_BITS = [(ALPHA_Q16 >> (16 - i)) & 1 for i in range(1, 17)]  # b1..b16


def pow_alpha(n_col):
    """n^(ALPHA_Q16/2^16) as a Spark Column via the Horner sqrt chain:
    r = 1; for b in b16..b1: r = sqrt(r * n^b). Deterministic cross-engine
    (see ALPHA_Q16 note); ~16 sqrts on an already-aggregated tiny frame."""
    r = F.lit(1.0)
    n = n_col.cast("double")
    for bit in reversed(ALPHA_BITS):
        r = F.sqrt(r * n) if bit else F.sqrt(r)
    return r


def pow_alpha_sql() -> str:
    """The identical sqrt chain over ``n_tokens`` as ANSI/DuckDB SQL text
    (for oracles)."""
    expr = "CAST(1.0 AS DOUBLE)"
    for bit in reversed(ALPHA_BITS):
        expr = f"sqrt({expr} * (n_tokens::DOUBLE))" if bit else f"sqrt({expr})"
    return expr


def _mix_hash(doc_id_col):
    """60-bit md5 of doc_id on the ':mix' channel (bloom/hll hash family)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(doc_id_col.cast("string"), F.lit(":mix")).cast("binary")), 1, 15
        ),
        16,
        10,
    ).cast("long")


def mixing_thresholds(docs: DataFrame, target_tokens) -> DataFrame:
    """Per-source keep thresholds: rate_s = min(1, T * share_s / n_tokens_s)
    with share_s from the quantized n_tokens^alpha weights (the exact
    recipe of the source_mixing_weights query), thr_s = floor(rate * 2^60).
    ``target_tokens`` may be a Column (e.g. half the corpus) or an int.

    alpha is DYADIC (ALPHA_Q16/2^16 = 45875/2^16 = 0.699997): w_q =
    floor(n^alpha * 2^20) is computed by the sqrt-multiply chain
    (``pow_alpha``), whose every intermediate is an IEEE correctly-rounded
    op — bitwise identical in Spark and DuckDB at any n, unlike libm
    pow() (r6 fix for ADVICE r5-E: pow's 1-ulp slack measurably flipped
    floor boundaries for n >~ 10^11). Sweep-tested in
    tests/test_mixing_pow_agreement."""
    d = docs.filter(F.length("text") > 0)
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_tokens"),
    )
    p = s.withColumn(
        "w_q",
        F.floor(pow_alpha(F.col("n_tokens")) * F.lit(1048576.0)).cast("long"),
    )
    g = p.agg(
        F.sum("w_q").alias("_tot"), F.sum("n_tokens").alias("_all_tok")
    )
    t = (
        F.lit(float(target_tokens))
        if isinstance(target_tokens, (int, float))
        else target_tokens
    )
    rate = F.least(
        F.lit(1.0),
        (t * (F.col("w_q").cast("double") / F.col("_tot").cast("double")))
        / F.col("n_tokens").cast("double"),
    )
    return p.crossJoin(F.broadcast(g)).select(
        "source",
        "n_docs",
        "n_tokens",
        "w_q",
        F.floor(rate * F.lit(_Q60)).cast("long").alias("thr"),
    )


def apply_mixing(docs: DataFrame, target_tokens) -> DataFrame:
    """The mixed corpus: docs whose hash clears their source's threshold.
    Expected kept tokens per source ~ min(n_tokens, T * share) without any
    global coordination; rerunning (or resuming) keeps EXACTLY the same
    docs."""
    thr = mixing_thresholds(docs, target_tokens).select("source", "thr")
    d = docs.filter(F.length("text") > 0).withColumn("_h", _mix_hash(F.col("doc_id")))
    return (
        d.join(F.broadcast(thr), "source")
        .filter(F.col("_h") < F.col("thr"))
        .drop("_h", "thr")
    )
