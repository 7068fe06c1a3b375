"""Rollup + cascade vs the numpy oracle — bitwise equality per tier.

north_rule: every rolled-up point must bitwise-match the reference
implementation's expected rollups per retention tier.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from crossai_ts_spark.operators.rollup import cascade
from crossai_ts_spark.oracle.rollup import cascade_from_tier, cascade_oracle, rollup_frame

KEY = ["doc_id", "tier", "window_start"]
W, FANOUT, TIERS = 64, 8, 3  # fanout 8 so tier3 (W*64=4096) is exercised by tiny docs


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(KEY).reset_index(drop=True)[
        ["doc_id", "source", "tier", "window_start", "t_min", "t_max", "t_sum", "t_cnt", "t_last", "t_mean"]
    ]


def assert_bitwise(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame):
    a, b = canon(spark_pdf), canon(oracle_pdf)
    assert len(a) == len(b), f"row count {len(a)} != {len(b)}"
    for c in ["doc_id", "source", "tier", "window_start", "t_min", "t_max", "t_sum", "t_cnt", "t_last"]:
        assert a[c].tolist() == b[c].tolist(), f"mismatch in {c}"
    # bitwise float comparison for the mean (the north_rule criterion)
    av = a["t_mean"].to_numpy().view(np.int64)
    bv = b["t_mean"].to_numpy().view(np.int64)
    assert (av == bv).all(), "t_mean not bitwise-identical"


def test_tier1_matches_oracle(spark, tiny_df, tiny_docs):
    got = cascade(tiny_df, w=W, tiers=1).toPandas()
    exp = rollup_frame(tiny_docs, W, tier=1)
    assert_bitwise(got, exp)


@pytest.mark.parametrize("strategy", ["pandas"])
def test_cascade_matches_oracle(spark, tiny_df, tiny_docs, strategy):
    got = cascade(tiny_df, w=W, fanout=FANOUT, tiers=TIERS, strategy=strategy).toPandas()
    exp = cascade_oracle(tiny_docs, w=W, fanout=FANOUT, tiers=TIERS)
    assert_bitwise(got, exp)


def test_cascade_strategy_accepts_only_pandas(spark, tiny_df, tiny_docs):
    got = cascade(tiny_df, w=W, fanout=FANOUT, tiers=2, strategy="pandas").toPandas()
    assert_bitwise(got, cascade_oracle(tiny_docs, w=W, fanout=FANOUT, tiers=2))
    with pytest.raises(ValueError, match="native"):
        cascade(tiny_df, strategy="native")


@pytest.mark.parametrize("name,value", [("w", 0), ("w", -4), ("fanout", 0), ("tiers", 0)])
def test_cascade_rejects_counts_below_one(spark, tiny_df, name, value):
    """Raised while the plan is built, naming the argument — not as a
    worker PythonException at the first action."""
    with pytest.raises(ValueError, match=rf"^{name} must be >= 1, got {value}$"):
        cascade(tiny_df, **{"w": W, "fanout": FANOUT, "tiers": 2, name: value})


def test_cascade_from_tier_identity(spark, tiny_df, tiny_docs):
    """groupBy re-aggregation of tier1 == direct tier2 from raw (partial-agg identity)."""
    t1 = cascade(tiny_df, w=W, tiers=1)
    t2 = cascade_from_tier(t1, from_tier=1, w=W, fanout=FANOUT).toPandas()
    exp = cascade_oracle(tiny_docs, w=W, fanout=FANOUT, tiers=2)
    assert_bitwise(t2, exp[exp.tier == 2])


def test_partition_count_invariance(spark, tiny_df, tiny_docs):
    """Same bitwise result at 1 and 13 partitions (north_rule §4.3)."""
    exp = cascade_oracle(tiny_docs, w=W, fanout=FANOUT, tiers=TIERS)
    for n in (1, 13):
        got = cascade(tiny_df.repartition(n), w=W, fanout=FANOUT, tiers=TIERS).toPandas()
        assert_bitwise(got, exp)


def test_boundary_docs(spark, tiny_df):
    """FIXTURES F1 pinned docs: window counts at W=64."""
    got = cascade(tiny_df, w=64, tiers=1).toPandas()
    cnt = got.groupby("doc_id").size()
    assert cnt["doc-bnd-0000"] == 1  # n=1
    assert cnt["doc-bnd-0001"] == 1  # n=63 → one ragged window
    assert cnt["doc-bnd-0002"] == 1  # n=64 → exactly one
    assert cnt["doc-bnd-0003"] == 2  # n=65 → ragged tail kept
    assert cnt["doc-bnd-0004"] == 64  # n=4096
    tail = got[(got.doc_id == "doc-bnd-0003") & (got.window_start == 64)]
    assert tail.t_cnt.iloc[0] == 1


def test_rollup_histogram_counts_and_median(spark):
    import numpy as np

    from crossai_ts_spark.operators.rollup import HIST_NB, HIST_VMAX, HIST_W, rollup_histogram

    w, nb, vmax = HIST_W, HIST_NB, HIST_VMAX
    rng = np.random.default_rng(9)
    toks = rng.integers(0, vmax + vmax // 4, size=100, dtype=np.int32)  # some clamp to the top bucket
    df = spark.createDataFrame(
        [("d0", [int(t) for t in toks], 100, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    got = rollup_histogram(df).toPandas().set_index("window_start")
    assert sorted(got.index) == [0, 32, 64, 96]
    for ws in (0, 32, 64, 96):
        seg = toks[ws : ws + w]
        buckets = np.minimum(seg.astype(np.int64) * nb // vmax, nb - 1)
        counts = np.bincount(buckets, minlength=nb)
        assert [got.loc[ws, f"b{b}"] for b in range(nb)] == counts.tolist()
        assert got.loc[ws, "total"] == len(seg)
        # median_bucket = first bucket whose cumulative count reaches half
        cum = np.cumsum(counts)
        expect = int(np.argmax(cum * 2 >= len(seg)))
        assert got.loc[ws, "median_bucket"] == expect


def test_histogram_wide_equals_numpy(spark):
    """Full frame equality of rollup_histogram (every bucket column)
    against an independent numpy recomputation, including ragged tails,
    with every doc in one Arrow batch (windows of adjacent docs share the
    batch's window ids) and a 0-token doc (dropped)."""
    import numpy as np
    import pandas as pd

    from crossai_ts_spark.operators.rollup import HIST_NB, HIST_VMAX, HIST_W, rollup_histogram

    w, nb, vmax = HIST_W, HIST_NB, HIST_VMAX
    rng = np.random.default_rng(23)
    rows = []
    for i, n in enumerate([257, 64, 100, 31, 1, 0]):
        toks = rng.integers(0, 2 * vmax, size=n, dtype=np.int32)
        rows.append((f"d{i}", [int(t) for t in toks], n, "s"))
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    ).coalesce(1)
    cols = ["doc_id", "window_start"] + [f"b{b}" for b in range(nb)] + [
        "total", "median_bucket"
    ]
    got = (
        rollup_histogram(df)
        .toPandas()[cols]
        .sort_values(["doc_id", "window_start"]).reset_index(drop=True)
    )
    # independent numpy recomputation, window by window
    expect_rows = []
    for doc_id, toks, n, _src in rows:
        a = np.asarray(toks, dtype=np.int64)
        for ws in range(0, n, w):
            seg = a[ws : ws + w]
            counts = np.bincount(
                np.minimum(seg * nb // vmax, nb - 1), minlength=nb
            )
            cum = np.cumsum(counts)
            expect_rows.append(
                [doc_id, ws, *counts.tolist(), len(seg),
                 int(np.argmax(cum * 2 >= len(seg)))]
            )
    expect = (
        pd.DataFrame(expect_rows, columns=cols)
        .sort_values(["doc_id", "window_start"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)


def test_hll_merge_identity_and_accuracy(spark, monkeypatch):
    """Tier-2 sketches merged from tier-1 registers equal sketching the
    raw events at the coarse window directly (bitwise — the mergeability
    contract); the estimate lands within the ~13% standard error band of
    the true distinct count for a 500-distinct-key window."""
    import pandas as pd

    from crossai_ts_spark.operators import hll
    from crossai_ts_spark.operators.hll import (
        M_REGS,
        WINDOW_SEC,
        hll_estimate,
        hll_merge,
        hll_sketch,
    )

    from pyspark.sql import functions as F

    rows = []
    for i in range(4000):
        # 500 distinct users, heavy repetition, spread over 8 hours
        rows.append((i, f"2024-01-01 0{i % 8}:0{i % 6}:1{i % 5}", i * 37 % 500))
    ev = spark.createDataFrame(rows, "event_id long, ts_s string, user_id long").select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id"
    )
    t1 = hll_sketch(ev)
    # hll_merge reads the fanout while the plan is built: 8 hours here,
    # against the 4 of hll_rollup
    monkeypatch.setattr(hll, "HLL_T2_FANOUT", 8)
    t2 = hll_merge(t1)
    # the direct side sketches the raw events at the 8x window
    monkeypatch.setattr(hll, "WINDOW_SEC", 8 * WINDOW_SEC)
    direct = hll_sketch(ev)
    key = ["window_start", "reg"]
    a = t2.toPandas().sort_values(key).reset_index(drop=True)
    b = direct.toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    # bounded state: at most one register row per register per window
    assert t1.toPandas().groupby("window_start").size().max() <= M_REGS

    # one coarse window holds users {0..499}: estimate within 3 sigma
    est = hll_estimate(direct).toPandas()
    w0 = est[est.window_start == est.window_start.min()].iloc[0]
    true = 500
    assert abs(w0.est_distinct - true) / true < 3 * 1.04 / (64 ** 0.5)
    # determinism: same input -> identical doubles
    est2 = hll_estimate(hll_sketch(ev)).toPandas()
    assert sorted(est.est_distinct) == sorted(est2.est_distinct)


def test_kmv_merge_identity_and_estimate(spark, monkeypatch):
    """Bottom-k of a union == bottom-k of concatenated per-part bottom-ks
    (bitwise — the mergeability rule); the sketch IS the k smallest
    distinct hashes; estimate lands within a loose band of truth."""
    from pyspark.sql import functions as F

    from crossai_ts_spark.operators import hll
    from crossai_ts_spark.operators.hll import KMV_K, kmv_sketch

    rows = [(i, f"2024-01-01 00:{i % 50:02d}:00", i * 31 % 400) for i in range(3000)]
    ev = spark.createDataFrame(rows, "event_id long, ts_s string, user_id long").select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id"
    )
    whole = kmv_sketch(ev).toPandas().iloc[0]

    # exactness of the sample: recompute the KMV_K smallest distinct hashes
    import hashlib

    hs = sorted({
        int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)
        for u in {r[2] for r in rows}
    })[:KMV_K]
    assert list(whole.ks) == hs

    # merge rule: split events, take per-half bottom-k, merge, compare
    h1 = kmv_sketch(ev.filter("event_id < 1500")).toPandas().iloc[0]
    h2 = kmv_sketch(ev.filter("event_id >= 1500")).toPandas().iloc[0]
    merged = sorted(set(list(h1.ks) + list(h2.ks)))[:KMV_K]
    assert merged == list(whole.ks)

    true_distinct = len({r[2] for r in rows})
    # k=8 has ~1/sqrt(k-2) ~ 40% sigma: only assert the right magnitude,
    # then check real accuracy at k=64 (~13% sigma, 3-sigma band)
    assert 0.2 < whole.n_distinct_est / true_distinct < 4
    monkeypatch.setattr(hll, "KMV_K", 64)
    wide = kmv_sketch(ev).toPandas().iloc[0]
    assert abs(wide.n_distinct_est - true_distinct) / true_distinct < 0.4


def test_kmv_prefilter_hot_window_boundedness(spark, monkeypatch):
    """r6 scale fix (hll.py kmv_sketch): in a hot window (10^6 distinct
    keys) the HLL-derived candidate pre-filter bounds the rows entering
    any bottom-k aggregation buffer to O(candidate_factor * k) — not
    O(D/n_salts) — while the output stays bitwise equal to the
    unfiltered plan; a deliberately starved threshold (candidate_factor
    < 1) proves the exactness fallback recomputes cut-too-deep windows."""
    from pyspark.sql import functions as F

    from crossai_ts_spark.operators import hll
    from crossai_ts_spark.operators.hll import (
        KMV_CANDIDATE_FACTOR,
        KMV_K,
        _kmv_hashed,
        _kmv_thresholds,
        kmv_sketch,
    )
    from crossai_ts_spark.oracle.plans import kmv_sketch_unfiltered

    k, c = KMV_K, KMV_CANDIDATE_FACTOR
    ev = spark.range(1_000_000).select(
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.col("id").alias("user_id"),
    )
    e = _kmv_hashed(ev)
    thr = _kmv_thresholds(e, k, c)
    trow = thr.toPandas().iloc[0]
    assert bool(trow.filtered)  # 10^6 >> c*k: the filter must engage
    n_cand = e.join(F.broadcast(thr), "window_start").filter("h < thr").count()
    # expected ~ c*k = 512 candidates (vs 10^6 unfiltered); 8x margin for
    # the HLL estimate's error band, and never fewer than k
    assert k <= n_cand <= 8 * c * k

    filtered = kmv_sketch(ev).toPandas()
    plain = kmv_sketch_unfiltered(ev).toPandas()
    assert list(filtered.iloc[0].ks) == list(plain.iloc[0].ks)
    assert filtered.iloc[0].n_distinct_est == plain.iloc[0].n_distinct_est

    # starved threshold: expected <k survivors -> fallback path must
    # recompute the window unfiltered and still return the exact sketch
    thr_starved = _kmv_thresholds(e, k, 0.1)
    n_starved = e.join(F.broadcast(thr_starved), "window_start").filter("h < thr").count()
    assert n_starved < k
    monkeypatch.setattr(hll, "KMV_CANDIDATE_FACTOR", 0.1)
    starved = kmv_sketch(ev).toPandas()
    assert list(starved.iloc[0].ks) == list(plain.iloc[0].ks)


def _events_with_null_rows(spark):
    """(clean, dirty): 50 users in one hour; dirty adds one row with a null
    user_id and one with a null ts."""
    from pyspark.sql import functions as F

    schema = "event_id long, ts_s string, user_id long"
    rows = [(i, f"2024-01-01 05:{i:02d}:00", i) for i in range(50)]
    bad = [(50, "2024-01-01 05:30:00", None), (51, None, 7)]

    def ev(r):
        return spark.createDataFrame(r, schema).select(
            "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id"
        )

    return ev(rows), ev(rows + bad)


def test_hll_drops_null_key_and_ts_rows(spark):
    """A null user_id or ts is dropped before hashing, as SQL
    COUNT(DISTINCT user_id) drops it: the registers and the estimate equal
    those of the same events without the null rows (a null hash used to
    become a NULL register that turned est_distinct NULL, and a null ts a
    window with a NULL start)."""
    from crossai_ts_spark.operators.hll import hll_estimate, hll_sketch

    clean, dirty = _events_with_null_rows(spark)
    key = ["window_start", "reg"]
    got = hll_sketch(dirty).toPandas().sort_values(key).reset_index(drop=True)
    want = hll_sketch(clean).toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)
    est = hll_estimate(hll_sketch(dirty)).toPandas()
    assert est.to_dict("records") == hll_estimate(hll_sketch(clean)).toPandas().to_dict("records")


def test_kmv_drops_null_key_and_ts_rows(spark):
    """kmv_sketch drops null-key and null-ts rows before hashing: the
    window equals the sketch of the same events without them (a null hash
    used to make the threshold pass NULL and drop the whole window)."""
    from crossai_ts_spark.operators.hll import kmv_sketch

    clean, dirty = _events_with_null_rows(spark)

    def rows(sk):
        return [
            (w, None if ks is None else list(ks), e)
            for w, ks, e in sk.toPandas().itertuples(index=False)
        ]

    want = rows(kmv_sketch(clean))
    assert len(want) == 1
    assert rows(kmv_sketch(dirty)) == want
