"""EP3 pipeline (plans/ep3.py): hand-constructed scenarios with known
event classifications, plus the Spark plan on a deterministic frame."""

from __future__ import annotations

import numpy as np

from crossai_ts_spark.oracle.signal import ep3_user_counts
from crossai_ts_spark.plans.ep3 import _iou, _runs, ep3_pipeline


def test_runs_and_iou_primitives():
    assert _runs(np.array([0, 1, 1, 0, 1], dtype=bool)) == [(1, 3), (4, 5)]
    assert _runs(np.zeros(4, dtype=bool)) == []
    assert _runs(np.ones(3, dtype=bool)) == [(0, 3)]
    assert _iou((0, 10), (5, 15)) == 5 / 15
    assert _iou((0, 5), (10, 20)) == 0.0


def test_clear_event_is_correct():
    """A solid block of prob=1 windows over matching GT -> one correct."""
    probs = np.zeros(16)
    probs[6:10] = 1.0
    errf = np.zeros(16)
    errf[6:10] = 1.0  # GT covers the same windows
    c, d, s, i = ep3_user_counts(probs, errf)
    assert (c, d, s, i) == (1, 0, 0, 0)


def test_event_without_gt_is_insertion():
    probs = np.zeros(16)
    probs[6:10] = 1.0
    errf = np.zeros(16)  # no ground truth anywhere
    c, d, s, i = ep3_user_counts(probs, errf)
    assert (c, d, s, i) == (0, 0, 0, 1)


def test_tiny_overlap_is_deletion():
    probs = np.zeros(16)
    probs[6:10] = 1.0
    errf = np.zeros(16)
    errf[0] = 1.0  # distant GT: spline ringing may graze it -> IoU < th
    c, d, s, i = ep3_user_counts(probs, errf)
    assert c == 0 and s == 0 and (d + i) == 1


def test_flat_low_probability_no_events():
    probs = np.full(16, 0.05)
    errf = np.zeros(16)
    assert ep3_user_counts(probs, errf) == (0, 0, 0, 0)


def test_spark_pipeline_counts_match_kernel(spark):
    """The full lazy plan on a synthetic events frame must reproduce the
    kernel's counts computed driver-side from the same minute buckets."""
    import pandas as pd
    from pyspark.sql import functions as F

    rows = []
    # user 1: strong click block minutes 5..8 with matching errors
    for mi in range(16):
        for k in range(4):
            et = "click" if 5 <= mi <= 8 else "view"
            rows.append((len(rows), 1, et, mi))
        if 5 <= mi <= 8:  # 2 errors / 6 events = 0.33 >= GT_ERR_FRAC
            rows.append((len(rows), 1, "error", mi))
            rows.append((len(rows), 1, "error", mi))
    # user 2: clicks but no errors -> insertion
    for mi in range(16):
        for k in range(4):
            et = "click" if 10 <= mi <= 13 else "view"
            rows.append((len(rows), 2, et, mi))
    ev = spark.createDataFrame(rows, "event_id long, user_id long, event_type string, minute long")
    got = ep3_pipeline(ev).toPandas().iloc[0]

    # driver-side expectation via the kernel
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "minute"])
    exp = np.zeros(4, dtype=int)
    for uid, gdf in pdf.groupby("user_id"):
        mb = gdf.groupby("minute").agg(
            clicks=("event_type", lambda s: (s == "click").sum()),
            errors=("event_type", lambda s: (s == "error").sum()),
            total=("event_type", "size"),
        ).reset_index().sort_values("minute").head(16)
        c, d, s, i = ep3_user_counts(
            (mb.clicks / mb.total).to_numpy(), (mb.errors / mb.total).to_numpy()
        )
        exp += np.array([c, d, s, i])
    assert (got.corrects, got.deletions, got.substitutions, got.insertions) == tuple(exp)
    assert got.corrects >= 1 and got.insertions >= 1
