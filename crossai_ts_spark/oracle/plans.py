"""Brute-force Spark plans that tests check the production plans against.

  cosine_topk             exact cosine top-k over every (query, corpus)
                          pair; the LSH and IVF searches of
                          operators/similarity.py are scored by their
                          recall against it
  _pack_sequences_global  one running-sum window per shard; the two-phase
                          cumsum of operators/packing.pack_sequences must
                          equal it bitwise
  kmv_sketch_unfiltered   the two-phase salted bottom-k over every hashed
                          event; the prefiltered operators/hll.kmv_sketch
                          (threshold pass + exactness fallback) must equal
                          it bitwise

No query, job or stream runs them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.hll import KMV_K, KMV_SALTS, _kmv_bottom_k, _kmv_estimate, _kmv_hashed
from ..operators.packing import _pack_assign
from ..operators.similarity import _cos_with_norms, _norm


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Brute-force cosine top-k; queries broadcast (must be the small side)."""
    qv = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"), _norm("embedding").alias("_na")
    )
    cv = corpus.select("vec_id", "embedding", _norm("embedding").alias("_nb"))
    pairs = F.broadcast(qv).crossJoin(cv).filter(F.col("vec_id") != F.col("q_id"))
    scored = pairs.select("q_id", "vec_id", _cos_with_norms("qe", "embedding").alias("cos_sim"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "cos_sim")
    )


def _pack_sequences_global(seqs: DataFrame) -> DataFrame:
    """The naive one-window-per-shard plan — kept only to prove bitwise
    equality of the two-phase cumsum in tests; serializes each shard on
    one task, so never the hot path."""
    w = Window.partitionBy("source").orderBy("doc_id")
    c = (
        seqs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("source"),
            F.col("n_tok").cast("long").alias("n_tok"),
        )
        .filter(F.col("n_tok") > 0)
        .withColumn("cum_end", F.sum("n_tok").over(w))
        .withColumn("cum_start", F.col("cum_end") - F.col("n_tok"))
    )
    return _pack_assign(c)


def kmv_sketch_unfiltered(events: DataFrame) -> DataFrame:
    """Bottom-KMV_K sketch per hourly window without the HLL candidate
    filter: every window's whole distinct-hash set enters the salted
    two-phase bottom-k, so a hot window buffers O(D / KMV_SALTS) hashes per
    shard."""
    e = _kmv_hashed(events)
    return _kmv_estimate(_kmv_bottom_k(e, KMV_K, KMV_SALTS), KMV_K)
