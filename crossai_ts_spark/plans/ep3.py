"""EP3 robustness-analysis pipeline (caits/performance/evaluation.py:36-222)
re-expressed Spark-first: the per-recording chain

  window probabilities -> cubic-spline upsample (utils.py:51-107)
  -> Butterworth smoothing (filtering.py:72-163)
  -> apply_probability_threshold (detection.py:12-40)
  -> get_continuous_events (detection.py:43-71)
  -> apply_duration_threshold (detection.py:74-95)
  -> classify_events vs ground truth (detection.py:98-156)
  -> detection_ratio / reliability / erer (metrics.py:103-147)

runs as ONE lazy plan: minute-bucket aggregation (JVM), one Arrow kernel
per user computing the numeric chain (numpy; the heavy per-sequence work),
then a single global aggregate for the metric row. No driver-side actions.

The per-user chain's numpy reference, checked against hand-constructed
scenarios and against this plan, is ``oracle/signal.ep3_user_counts``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.iir import butter_sos
from ..workers import worker_kernel

N_WINDOWS = 16  # minute windows per user: users with fewer are skipped
STEP = 64  # samples per window (the sr*ws - overlap grid of the reference)
SMOOTH = (4, 0.02, 1.0, "lowpass")  # butter_sos(order, cutoff, fs, type)
DUR_MIN = 32  # apply_duration_threshold, in samples
PROB_TH = 0.3  # apply_probability_threshold
IOU_TH = 0.25
GT_ERR_FRAC = 0.25


def _runs(mask: np.ndarray) -> list[tuple[int, int]]:
    """get_continuous_events: [start, end) sample runs of True."""
    if mask.size == 0:
        return []
    d = np.diff(mask.astype(np.int8))
    starts = list(np.nonzero(d == 1)[0] + 1)
    ends = list(np.nonzero(d == -1)[0] + 1)
    if mask[0]:
        starts = [0] + starts
    if mask[-1]:
        ends = ends + [mask.size]
    return list(zip(starts, ends))


def _iou(a: tuple[int, int], b: tuple[int, int]) -> float:
    inter = max(0, min(a[1], b[1]) - max(a[0], b[0]))
    union = (a[1] - a[0]) + (b[1] - b[0]) - inter
    return inter / union if union > 0 else 0.0


def ep3_pipeline(ev: DataFrame) -> DataFrame:
    """events (user_id, event_type, minute ints) -> ONE metric row.

    Minute buckets aggregate JVM-side; users with >= N_WINDOWS distinct
    minutes run the numeric chain in an Arrow kernel; a single global agg
    emits C/D/S/I + detection_ratio + reliability + erer. Lazy end-to-end.
    """
    mb = ev.groupBy("user_id", "minute").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("clicks"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("errors"),
        F.count("*").alias("total"),
    )
    g = (
        mb.groupBy("user_id")
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct("minute", "clicks", "errors", "total"))),
                1,
                N_WINDOWS,
            ).alias("w"),
            F.count("*").alias("nmin"),
        )
        .filter(F.col("nmin") >= N_WINDOWS)
    )
    sos = butter_sos(*SMOOTH)

    @worker_kernel
    def kernel(batches):
        from ..functions.iir import sosfiltfilt_batch
        from ..functions.spline import spline_eval, spline_slopes

        for pdf in batches:
            if not len(pdf):
                continue
            uids = list(pdf["user_id"])
            n_w = N_WINDOWS
            t = np.arange(n_w * STEP, dtype=np.float64)
            xk = np.arange(n_w, dtype=np.float64) * STEP + STEP // 2
            interp = np.empty((len(uids), t.size))
            errfs = []
            for r, ws in enumerate(pdf["w"]):
                probs = np.array([w["clicks"] / w["total"] for w in ws])
                errfs.append(np.array([w["errors"] / w["total"] for w in ws]))
                m = spline_slopes(xk, probs)
                interp[r] = spline_eval(xk, probs, m, t)
            # the zero-phase IIR runs once over the BATCH (vectorized
            # across users; bitwise == per-user sosfiltfilt, tested)
            smooth = sosfiltfilt_batch(sos, interp)
            rows = []
            for r, uid in enumerate(uids):
                pred = [(a, b) for a, b in _runs(smooth[r] >= PROB_TH) if b - a >= DUR_MIN]
                gt = [
                    (ws_ * STEP, we_ * STEP)
                    for ws_, we_ in _runs(errfs[r] >= GT_ERR_FRAC)
                ]
                C = D = S = I = 0
                for pe in pred:
                    best = max((_iou(pe, g) for g in gt), default=0.0)
                    if best == 0.0:
                        I += 1
                    elif best < IOU_TH:
                        D += 1
                    else:
                        C += 1
                rows.append((uid, C, D, S, I))
            yield pd.DataFrame(rows, columns=["user_id", "c", "d", "s", "i"])

    per_user = g.select("user_id", "w").mapInPandas(
        kernel, schema="user_id long, c long, d long, s long, i long"
    )
    cnt = per_user.agg(
        F.sum("c").cast("long").alias("corrects"),
        F.sum("d").cast("long").alias("deletions"),
        F.sum("s").cast("long").alias("substitutions"),
        F.sum("i").cast("long").alias("insertions"),
    )
    C, D, S, I = (F.col(c) for c in ["corrects", "deletions", "substitutions", "insertions"])
    dcs = D + C + S
    return cnt.select(
        "corrects",
        "deletions",
        "substitutions",
        "insertions",
        F.when(dcs > 0, C.cast("double") / dcs.cast("double")).otherwise(0.0).alias("detection_ratio"),
        F.when(C + I > 0, C.cast("double") / (C + I).cast("double")).otherwise(0.0).alias("reliability"),
        F.when(dcs > 0, (D + I + S).cast("double") / dcs.cast("double")).otherwise(0.0).alias("erer"),
    )
