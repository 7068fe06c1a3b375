"""Deterministic synthetic sequences table (FIXTURES.md F1).

Pure function of (seed, n_docs): every doc's tokens are regenerable on any
executor from ``np.random.default_rng([seed, i])`` — so the generator is a
distributed *source* (spark.range → mapInPandas), no external data and no
driver-side materialization. Boundary docs (doc-bnd-*) from FIXTURES.md
are pinned at the head of the id space. The F2 gapped series live with
their one user, tests/test_gapfill_runs.py.

Distribution (F1):
  n_tok  : 80% U[64, 2048], 15% U[2048, 16384], 5% U[16384, 65536]
  source : Zipf(alpha=1.2) over 8 sources (deliberately skewed → salting tests)
  tokens : U[0, 50257) int32
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .schema import SEQUENCES_SCHEMA
from .workers import worker_kernel

VOCAB = 50257
SOURCES = ["web", "books", "code", "wiki", "forums", "papers", "news", "chat"]
ZIPF_ALPHA = 1.2

# pinned boundary docs: (suffix, n_tok) — FIXTURES.md F1, W=64 tiers 64/4096/262144
BOUNDARY_DOCS = [
    ("doc-bnd-0000", 1),
    ("doc-bnd-0001", 63),
    ("doc-bnd-0002", 64),
    ("doc-bnd-0003", 65),
    ("doc-bnd-0004", 4096),
    ("doc-bnd-0005", 65536),
]

_SOURCE_P = np.array([1.0 / (k + 1) ** ZIPF_ALPHA for k in range(len(SOURCES))])
_SOURCE_P /= _SOURCE_P.sum()


def _doc(seed: int, i: int, max_tok: int | None) -> tuple[str, np.ndarray, str]:
    """Deterministically generate doc i. Boundary docs occupy i < len(BOUNDARY_DOCS)."""
    rng = np.random.default_rng([seed, i])
    if i < len(BOUNDARY_DOCS):
        doc_id, n_tok = BOUNDARY_DOCS[i]
    else:
        doc_id = f"doc-{i:08d}"
        u = rng.random()
        if u < 0.80:
            n_tok = int(rng.integers(64, 2048))
        elif u < 0.95:
            n_tok = int(rng.integers(2048, 16384))
        else:
            n_tok = int(rng.integers(16384, 65536))
    if max_tok is not None and i >= len(BOUNDARY_DOCS):
        n_tok = min(n_tok, max_tok)
    tokens = rng.integers(0, VOCAB, size=n_tok, dtype=np.int32)
    source = SOURCES[int(rng.choice(len(SOURCES), p=_SOURCE_P))]
    return doc_id, tokens, source


def gen_local(seed: int, n_docs: int, max_tok: int | None = None) -> pd.DataFrame:
    """Driver-side generation (tests, oracle input)."""
    rows = []
    for i in range(n_docs):
        doc_id, tokens, source = _doc(seed, i, max_tok)
        rows.append((doc_id, tokens, np.int32(len(tokens)), source))
    return pd.DataFrame(rows, columns=["doc_id", "tokens", "n_tok", "source"])


def gen_sequences(
    spark: SparkSession,
    n_docs: int = 5000,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed generation: spark.range(n_docs) → mapInPandas.

    Each task regenerates only its own ids; nothing is collected to the
    driver. Scales to any n_docs (the 10^12-design-point stand-in).
    """
    if partitions is None:
        partitions = max(8, math.ceil(n_docs / 2000))

    @worker_kernel
    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_doc(seed, int(i), None) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "doc_id": [r[0] for r in rows],
                    "tokens": [r[1] for r in rows],
                    "n_tok": np.array([len(r[1]) for r in rows], dtype=np.int32),
                    "source": [r[2] for r in rows],
                }
            )

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(make, schema=SEQUENCES_SCHEMA)
    )
