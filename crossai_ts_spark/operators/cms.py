"""Count-min sketch (Cormode & Muthukrishnan 2005): frequency estimates
for arbitrary keys from BOUNDED state — d x w integer cells regardless of
corpus size, mergeable by elementwise addition across partitions, days,
or streams. The counting twin of the bloom filter's membership bitset
(operators/bloom.py): where an exact n-gram count table over a 10^12-token
corpus shuffles the whole n-gram universe, the sketch is a fixed few-MB
table that answers "how often does this phrase occur?" with a one-sided
error (estimate >= truth, overshoot ~ corpus_size/w per row, min over d
rows).

Engine-portable: every hash is the md5-derived 60-bit integer family
(`bloom._positions` pattern), all cells are exact integer sums — the
whole sketch AND every estimate reproduce bit-for-bit in DuckDB, so the
operator carries a FULL oracle, not a tolerance test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# sketch rows (hash functions) and cells per row; the DuckDB oracle builds
# its SQL from the same values
CMS_D, CMS_W = 4, 8192


def _cell(key_col, i: int):
    """Row-i cell index for a key: md5_60("i:" || key) mod CMS_W —
    engine-portable (the DuckDB oracle reproduces every cell bit-for-bit),
    at the cost of a hex-string detour per position (CMS_D md5+conv per
    item)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(i), key_col.cast("string")).cast("binary")), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return h % CMS_W


def _positions():
    """The ``ngram`` key's CMS_D (row, cell) positions as an array of structs."""
    return F.array(*[
        F.struct(F.lit(i).alias("row"), _cell(F.col("ngram"), i).alias("cell"))
        for i in range(CMS_D)
    ])


def cms_build(items: DataFrame) -> DataFrame:
    """Sketch a stream of ``ngram`` items: one (row, cell, cnt) table of
    <= CMS_D*CMS_W rows.

    One explode (CMS_D rows per item) into a map-side-combined groupBy —
    partial aggregation collapses each partition to <= CMS_D*CMS_W cells before
    the (tiny) shuffle, which is exactly how the sketch merges: cells
    from anywhere add elementwise."""
    return (
        items.select(F.explode(_positions()).alias("p"))
        .select("p.row", "p.cell")
        .groupBy("row", "cell")
        .agg(F.count("*").alias("cnt"))
    )


def cms_lookup(cms: DataFrame, queries: DataFrame) -> DataFrame:
    """Estimate each query ``ngram``'s count: min over the CMS_D rows' cells.

    The sketch side is <= CMS_D*CMS_W rows and is BROADCAST — the query side
    never shuffles; absent cells count 0 (a key the sketch never saw
    estimates 0 only if some cell stayed empty; estimate >= truth always)."""
    q = queries.select(F.col("ngram"), F.explode(_positions()).alias("p")).select(
        "ngram", "p.row", "p.cell"
    )
    joined = q.join(F.broadcast(cms), ["row", "cell"], "left").select(
        "ngram", F.coalesce("cnt", F.lit(0).cast("long")).alias("cnt")
    )
    return joined.groupBy("ngram").agg(F.min("cnt").alias("est"))
