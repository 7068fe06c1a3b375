"""gapfill_runs (join-free) == the numpy oracle restricted to observed bounds."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crossai_ts_spark.datagen import VOCAB
from crossai_ts_spark.operators.gapfill import gapfill_runs
from crossai_ts_spark.oracle.gapfill import gapfill_linear, gapfill_locf

# ------------------------------------------------ gapped series (FIXTURES F2)

GAP_DOCS = {
    # doc suffix -> (n_tok, gap offsets builder)
    "doc-gap-0000": (512, lambda n: np.arange(0, 10)),              # leading gap
    "doc-gap-0001": (512, lambda n: np.arange(100, 200)),           # interior run
    "doc-gap-0002": (512, lambda n: np.arange(n - 10, n)),          # trailing gap
    "doc-gap-0003": (512, lambda n: np.arange(1, n, 2)),            # alternating
}


def gen_gapped_local(seed: int = 42, n_docs: int = 20, drop_frac: float = 0.10) -> pd.DataFrame:
    """Long-format gapped series: (doc_id, offset:int64, value:int32).

    Pinned gap docs first, then random docs with drop_frac offsets removed.
    """
    rows: list[pd.DataFrame] = []
    for j, (doc_id, (n_tok, gaps)) in enumerate(sorted(GAP_DOCS.items())):
        rng = np.random.default_rng([seed, 10_000 + j])
        vals = rng.integers(0, VOCAB, size=n_tok, dtype=np.int32)
        keep = np.setdiff1d(np.arange(n_tok), gaps(n_tok))
        rows.append(pd.DataFrame({"doc_id": doc_id, "offset": keep.astype(np.int64), "value": vals[keep]}))
    for i in range(n_docs):
        rng = np.random.default_rng([seed, 20_000 + i])
        n_tok = int(rng.integers(64, 1024))
        vals = rng.integers(0, VOCAB, size=n_tok, dtype=np.int32)
        drop = rng.random(n_tok) < drop_frac
        keep = np.where(~drop)[0]
        rows.append(
            pd.DataFrame({"doc_id": f"doc-gapped-{i:06d}", "offset": keep.astype(np.int64), "value": vals[keep]})
        )
    return pd.concat(rows, ignore_index=True)


def gapped_to_spark(spark, pdf: pd.DataFrame):
    df = spark.createDataFrame(pdf)
    return df.select(
        F.col("doc_id"),
        F.col("offset").cast("long").alias("offset"),
        F.col("value").cast("int").alias("value"),
    )


@pytest.fixture(scope="module")
def gapped2(spark):
    pdf = gen_gapped_local(seed=7, n_docs=6)
    return pdf, gapped_to_spark(spark, pdf).cache()


def _oracle_on_observed_span(pdf: pd.DataFrame, oracle_fn) -> dict[str, tuple[int, np.ndarray]]:
    """Per doc, (min_offset, the oracle's dense series sliced to
    [min_offset, max_offset]) — exactly the span gapfill_runs and
    gapfill_linear_checksum cover."""
    out = {}
    for doc_id, g in pdf.groupby("doc_id"):
        mn, mx = int(g.offset.min()), int(g.offset.max())
        out[doc_id] = mn, oracle_fn(g.offset.to_numpy(), g.value.to_numpy(), mx + 1)[mn:]
    return out


def test_runs_equals_spine_on_observed_span(spark, gapped2):
    pdf, sdf = gapped2
    exp = pd.concat([
        pd.DataFrame({"doc_id": doc_id, "offset": np.arange(mn, mn + dense.size), "filled": dense})
        for doc_id, (mn, dense) in _oracle_on_observed_span(pdf, gapfill_locf).items()
    ]).sort_values(["doc_id", "offset"]).reset_index(drop=True)
    got = (
        gapfill_runs(sdf)
        .toPandas()
        .sort_values(["doc_id", "offset"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert got.offset.tolist() == exp.offset.tolist()
    a = got.filled.to_numpy()
    b = exp.filled.to_numpy()
    assert (a.view(np.int64) == b.view(np.int64)).all()  # bitwise


def test_linear_checksum_kernel_bitwise_equals_runs_path(spark, gapped2):
    """r8: gapfill_linear_checksum (vectorized run-expansion kernel) must
    reproduce the floor-checksums of the numpy linear oracle over each
    doc's observed span BITWISE — same anchors, same slope, same IEEE
    per-point ops — including single-point (trailing) runs where slope is
    null."""
    from crossai_ts_spark.operators.gapfill import gapfill_linear_checksum

    pdf, sdf = gapped2
    want = pd.DataFrame(
        [
            (doc_id, dense.size, int(np.floor(dense * 1024.0).astype(np.int64).sum()))
            for doc_id, (_, dense) in sorted(_oracle_on_observed_span(pdf, gapfill_linear).items())
        ],
        columns=["doc_id", "n_points", "chk"],
    )
    got = (
        gapfill_linear_checksum(sdf)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert got[["doc_id", "n_points", "chk"]].equals(want)
