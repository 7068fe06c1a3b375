"""Distributed Bloom-filter build + join pruning.

The 100-TB join optimization: hash the small side's join keys into an
M-bit Bloom bitset (K hashes each), broadcast the ~KB bitset, and drop
probe-side rows that cannot match BEFORE the exact join — the shuffle
then carries only survivors (true matches + the filter's small false-
positive rate) instead of the whole fact table.

Engine-portable construction: every hash is md5-derived (the `_h64`
pattern shared with dedup), the bitset lives as (block, bits) rows with
32-bit blocks — `1 << (pos % 32)` stays positive in int64 on both Spark
and DuckDB — so the entire sketch, including its false positives, is
bit-for-bit reproducible in SQL and carries a FULL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

M = 16384  # filter bits: M / 32 blocks, 2 KB
K = 3  # hashes per key


def _positions(key_col):
    """K bit positions per key: h_i(key) = md5_64("i:" || key) mod M."""
    cols = []
    for i in range(K):
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(i), key_col.cast("string")).cast("binary")), 1, 15
            ),
            16,
            10,
        ).cast("long")
        cols.append(h % M)
    return F.array(*cols)


def bloom_build(df: DataFrame) -> DataFrame:
    """(block, bits) bitset rows of the ``c_custkey`` keys — M/32 rows
    regardless of build size; one map-side-combined groupBy (bit_or) over
    K rows per key."""
    pos = _positions(F.col("c_custkey"))
    return (
        df.select(F.explode(pos).alias("pos"))
        .select(
            (F.col("pos") / 32).cast("long").alias("block"),
            # shiftleft() wants a literal shift amount; 2^n is exact in a
            # double for n <= 31, so pow->cast gives the identical bit
            F.pow(F.lit(2.0), (F.col("pos") % 32).cast("double")).cast("long").alias("bit"),
        )
        .groupBy("block")
        .agg(F.bit_or("bit").alias("bits"))
    )


def bloom_bitset(blocks: DataFrame) -> list[int]:
    """Collect the (block, bits) rows into a dense M/32-long bitset —
    control-plane: the whole filter is M/8 bytes (2 KB), the
    same ship-a-tiny-model move as the LSH planes / IVF centroids."""
    got = {int(r.block): int(r.bits) for r in blocks.collect()}
    return [got.get(b, 0) for b in range(M // 32)]


def bloom_test_col(bitset: list[int], key_col):
    """Boolean Column: all K bloom bits set for this key (possible member;
    guaranteed true for every built key — no false negatives)."""
    arr = F.lit(bitset).cast("array<long>")
    cond = None
    for i in range(K):
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(i), key_col.cast("string")).cast("binary")), 1, 15
            ),
            16,
            10,
        ).cast("long")
        pos = h % M
        bit_ok = (
            F.element_at(arr, ((pos / 32).cast("long") + 1).cast("int"))
            .bitwiseAND(F.pow(F.lit(2.0), (pos % 32).cast("double")).cast("long"))
            != 0
        )
        cond = bit_ok if cond is None else (cond & bit_ok)
    return cond
