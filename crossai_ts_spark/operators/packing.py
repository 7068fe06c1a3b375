"""Training-sequence packing — the concatenate-and-chop step between a
cleaned corpus and a training run (the public GPT-family recipe: documents
are concatenated in a deterministic order and sliced into fixed-length
token sequences; a doc may straddle a boundary).

Scale shape: the packing order is (shard, doc_id) — deterministic and
engine-portable — but a single running sum over a whole shard would route
every row of the hottest shard through ONE task's sort (``source`` is
Zipf(1.2) over 8 values: at 10^12 docs that's ~40% of the corpus on one
task). So the cumsum is TWO-PHASE, the salted-aggregation idiom of
operators/salted.py applied to a prefix sum:

  1. range-partition rows by (shard, doc_id) into B buckets — each bucket
     is a CONTIGUOUS slice of some shard's doc_id order, ~N/B rows;
  2. bucket-local running sum (ordered window per (shard, bucket): bounded
     input per task, all buckets in parallel);
  3. per-bucket token totals (<= B + n_shards tiny rows), exclusive-prefix
     summed per shard in one trivial window, broadcast-joined back and
     added to the local cumsum.

The global prefix sum is invariant to WHERE the contiguous cuts fall, so
the output is bitwise-identical to the one-window plan (tested), while the
hottest shard's rows spread across ~B tasks instead of one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# tokens per packed training sequence; the DuckDB oracle chops at it too
PACK_SEQ_LEN = 512


def _bucketed_cumsum(seqs: DataFrame) -> DataFrame:
    """Phases 1-3: rows + (_bucket, cum_start, cum_end), exposed separately
    so tests can assert per-(shard, bucket) boundedness on the hot shard.
    B = 4x the default parallelism, at least 64."""
    n_buckets = max(64, seqs.sparkSession.sparkContext.defaultParallelism * 4)
    c = seqs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("source"),
        F.col("n_tok").cast("long").alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    # contiguous range buckets over the packing order; explicit numPartitions
    # so AQE never re-cuts them (merged-by-coalesce buckets would stay
    # contiguous and therefore correct, but bounded size is the point here).
    # Tracked-persist: the bucketed rows feed BOTH the local-cumsum window
    # and the per-bucket totals — without the persist each branch re-runs
    # the scan + range shuffle (AQE does not reuse the stage here; verified
    # against the executed plan). Callers release via release_tracked().
    from ..caching import tracked_persist

    b = tracked_persist(
        c.repartitionByRange(n_buckets, F.col("source"), F.col("doc_id")).withColumn(
            "_bucket", F.spark_partition_id()
        )
    )
    wloc = Window.partitionBy("source", "_bucket").orderBy("doc_id")
    b = b.withColumn("_loc_end", F.sum("n_tok").over(wloc))
    # exclusive prefix of per-bucket totals: <= n_buckets + n_shards rows,
    # so the ordered window below is control-plane sized
    totals = b.groupBy("source", "_bucket").agg(F.sum("n_tok").alias("_bkt_tok"))
    wpre = (
        Window.partitionBy("source")
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = totals.select(
        "source",
        "_bucket",
        F.coalesce(F.sum("_bkt_tok").over(wpre), F.lit(0).cast("long")).alias("_prefix"),
    )
    return (
        b.join(F.broadcast(prefix), ["source", "_bucket"])
        .withColumn("cum_end", F.col("_prefix") + F.col("_loc_end"))
        .withColumn("cum_start", F.col("cum_end") - F.col("n_tok"))
    )


def _pack_assign(c: DataFrame) -> DataFrame:
    pack_id = F.floor(F.col("cum_start") / PACK_SEQ_LEN).cast("long")
    last_pack = F.floor((F.col("cum_end") - 1) / PACK_SEQ_LEN).cast("long")
    return c.select(
        "doc_id",
        "source",
        "n_tok",
        "cum_start",
        pack_id.alias("pack_id"),
        (F.col("cum_start") % PACK_SEQ_LEN).cast("long").alias("pack_off"),
        (last_pack != pack_id).alias("spans_packs"),
        (last_pack - pack_id + 1).cast("long").alias("n_packs_touched"),
    )


def pack_sequences(seqs: DataFrame) -> DataFrame:
    """Assign every doc its position in the packed PACK_SEQ_LEN-token stream
    of its ``source`` shard: (pack_id, pack_off) of the doc's first token,
    whether it straddles a pack boundary, and how many packs it touches.

    Columns out: doc_id, source, n_tok, cum_start, pack_id, pack_off,
    spans_packs (bool), n_packs_touched. The two-phase cumsum cuts 4x the
    default parallelism (at least 64) buckets; the output is independent
    of their number.
    """
    return _pack_assign(_bucketed_cumsum(seqs))
