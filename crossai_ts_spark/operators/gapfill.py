"""Gap-fill over the observed span: LOCF / linear interpolation.

Spark-first shape: no dense spine is generated, joined or shuffled. ONE
``lead`` window over the (sparse) observations pairs each observation with
the next; each inter-observation run is then emitted directly —
:func:`gapfill_runs` (LOCF) explodes ``sequence(off, next_off - 1)`` per
run, :func:`gapfill_linear_checksum` expands runs inside an Arrow kernel
and reduces them per doc before anything is shuffled.

  * LOCF   = the run's anchor value — the zero-order-hold of
    caits/core/_core_resample.py:45-54.
  * linear = ``v + (next-v)/(next_off-off) * (k-off)`` in float64, the
    expression order of oracle/gapfill.py (np.interp semantics,
    caits/preprocessing.py:55), so both are bitwise-equal to the oracle
    sliced to each doc's observed bounds (tested).

At 100 TB the shuffle on doc_id is unavoidable for long-format input (the
data arrives keyed by sample); skew is bounded because a doc caps at 64 Ki
samples — `repartitionByRange(doc_id)` + AQE handles the source-level skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..workers import worker_kernel


def gapfill_linear_checksum(observed: DataFrame) -> DataFrame:
    """Per-doc (doc_id, n_points, chk) of the linear gap-fill of ``value``
    WITHOUT materializing the dense grid in the JVM: chk = Σ floor(filled
    * 1024) over every point of the doc's observed span [min_offset,
    max_offset].

    Bitwise-equal to floor-checksums of oracle/gapfill.py's linear series
    sliced to the observed span (tested): the anchor windows, run bounds
    and per-run slope are JVM expressions over the sparse observations,
    and the per-point fill ``v + slope * d`` / ``floor(filled * 1024)`` are
    the oracle's IEEE float64 ops in numpy. The win (guide §4.2): a JVM
    dense grid through ``explode(sequence(...))`` costs one array
    allocation per run plus a hash-aggregate probe per dense point (63 M
    rows at sf0.1), while this kernel expands each Arrow batch of runs
    with repeat/arange vector math and reduces per run with
    ``np.add.reduceat`` before anything is shuffled. Only run-level rows
    (one per observation) ever cross the Arrow boundary in either
    direction.
    """
    import numpy as np
    import pandas as pd

    w = Window.partitionBy("doc_id").orderBy("offset")
    v = F.col("value").cast("double")
    d = observed.filter(v.isNotNull()).select(
        "doc_id",
        F.col("offset").cast("long").alias("offset"),
        v.alias("_v"),
        F.lead(F.col("offset").cast("long")).over(w).alias("_no"),
        F.lead(v).over(w).alias("_nv"),
    )
    # run_end and slope in the JVM
    run_end = F.when(F.col("_no").isNull(), F.col("offset")).otherwise(F.col("_no") - 1)
    slope = (F.col("_nv") - F.col("_v")) / (
        F.col("_no").cast("double") - F.col("offset").cast("double")
    )
    runs = d.select(
        "doc_id", "offset", "_v", run_end.alias("_re"), slope.alias("_slope")
    )

    # memory bound: one Arrow batch of runs expands to sum(run lengths)
    # dense points; slice batches so no expansion exceeds ~4M points
    # (~32 MB of f8) regardless of how pathological the observation gaps
    # are — the same per-run generator bound the JVM sequence() path has,
    # but enforced explicitly.
    max_points = 4_000_000

    @worker_kernel
    def kernel(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            off_all = pdf["offset"].to_numpy(dtype=np.int64)
            vv_all = pdf["_v"].to_numpy(dtype=np.float64)
            re_all = pdf["_re"].to_numpy(dtype=np.int64)
            sl_all = pdf["_slope"].to_numpy(dtype=np.float64)  # NaN on last runs
            n_all = re_all - off_all + 1
            cuts = [0]
            acc = 0
            for i, ni in enumerate(n_all):
                acc += int(ni)
                if acc >= max_points:
                    cuts.append(i + 1)
                    acc = 0
            if cuts[-1] != len(n_all):
                cuts.append(len(n_all))
            for s, t in zip(cuts[:-1], cuts[1:]):
                off, vv, sl, n = off_all[s:t], vv_all[s:t], sl_all[s:t], n_all[s:t]
                base = np.concatenate(([0], np.cumsum(n)[:-1]))
                # within-run point index 0..n_i-1 over the whole slice
                widx = np.arange(int(n.sum()), dtype=np.int64) - np.repeat(base, n)
                vr = np.repeat(vv, n)
                with np.errstate(invalid="ignore"):
                    filled = np.where(
                        widx == 0, vr, vr + np.repeat(sl, n) * widx.astype(np.float64)
                    )
                contrib = np.floor(filled * 1024.0).astype(np.int64)
                chk = np.add.reduceat(contrib, base) if n.size else contrib[:0]
                yield pd.DataFrame({"doc_id": pdf["doc_id"].iloc[s:t], "n": n, "chk": chk})

    part = runs.mapInPandas(kernel, "doc_id string, n long, chk long")
    return part.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_points"),
        F.sum("chk").cast("long").alias("chk"),
    )


def gapfill_runs(observed: DataFrame) -> DataFrame:
    """Join-free LOCF gap-fill of ``value`` over the observed span
    [min_offset, max_offset].

    Instead of spine + left-join + anchor windows (3 shuffles of the DENSE
    grid — measured 405 s on a 63M-point grid), emit each inter-observation
    run directly: ONE `lead` window over the (sparse) observations, then a
    narrow explode of `sequence(off, next_off - 1)`. The dense grid exists
    only as generator output — it is never shuffled, joined, or sorted.

    Bitwise-equal to oracle/gapfill.py's dense LOCF series sliced to each
    doc's observed bounds (no leading/trailing gap by construction;
    tested).
    """
    w = Window.partitionBy("doc_id").orderBy("offset")
    v = F.col("value").cast("double")
    d = observed.filter(v.isNotNull()).select(
        "doc_id",
        F.col("offset").cast("long").alias("offset"),
        v.alias("_v"),
        F.lead(F.col("offset").cast("long")).over(w).alias("_no"),
    )
    run_end = F.when(F.col("_no").isNull(), F.col("offset")).otherwise(F.col("_no") - 1)
    d = d.withColumn("_k", F.explode(F.sequence(F.col("offset"), run_end)))
    return d.select("doc_id", F.col("_k").alias("offset"), F.col("_v").alias("filled"))
