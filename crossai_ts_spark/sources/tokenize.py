"""documents -> input_hint sequences table.

Deterministic, engine-agnostic tokenization so a DuckDB oracle can compute
the identical table: tokens = Unicode code points of the text (the driver
corpus is pure ASCII — verified — so Spark's UTF-16 vs DuckDB's UTF-8
indexing agree). doc_id is cast to string per the input_hint schema.

This mirrors the reference's loader stage (caits/loading/_csv_read.py:69,
caits/loading/_dataset_loader.py:53): raw files -> ragged DatasetList; here:
documents table -> ragged token arrays.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import SEQUENCES_SCHEMA
from ..workers import worker_kernel


def tokenize_documents(docs: DataFrame) -> DataFrame:
    """(doc_id, text, source, ...) -> (doc_id string, tokens, n_tok, source).

    Arrow kernel: np.frombuffer over the ASCII bytes — O(n), vectorized, and
    a hard optimizer boundary so downstream HOF folds see a materialized
    array column instead of re-evaluating tokenization per window slice.
    """

    def one(t: str) -> np.ndarray:
        b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
        if b.size and b.max() > 127:  # non-ASCII: fall back to real code points
            return np.fromiter((ord(c) for c in t), dtype=np.int32, count=len(t))
        return b.astype(np.int32)

    @worker_kernel
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = [one(t) for t in pdf["text"]]
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype(str),
                    "tokens": toks,
                    "n_tok": np.array([a.size for a in toks], dtype=np.int32),
                    "source": pdf["source"],
                }
            )
            yield out[out["n_tok"] > 0]

    base = docs.select("doc_id", "text", "source").filter(
        F.col("text").isNotNull()  # null text would raise in .encode()
    )
    # Scan parallelism is proportional to BYTES (maxPartitionBytes), but the
    # downstream per-doc kernels cost CPU proportional to ROWS — a tiny
    # single-row-group parquet file puts all 5000 docs on ONE core (measured:
    # codec_roundtrip 4.7 s -> 0.8 s after spreading). When the source scan
    # has fewer partitions than the cluster has slots, round-robin the rows
    # first; at real table sizes the scan already has >= parallelism splits
    # and this is a no-op.
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < par:
        base = base.repartition(par)
    return base.mapInPandas(kernel, schema=SEQUENCES_SCHEMA)
