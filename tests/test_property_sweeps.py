"""Property-style parameter sweeps (SURVEY §5(e), modeled on the
reference's generator-driven sweeps in test/utils.py:3-39).

The key new axis vs the reference: PARTITION-COUNT INVARIANCE — identical
bitwise results for every (W, fanout, salt, partitioning) combination.
"""

from __future__ import annotations

import numpy as np
import pytest

from crossai_ts_spark.datagen import gen_local
from crossai_ts_spark.operators import rollup, salted
from crossai_ts_spark.operators.rollup import cascade, rollup_histogram
from crossai_ts_spark.operators.salted import salted_tier_source_rollup
from crossai_ts_spark.oracle.rollup import cascade_oracle
from crossai_ts_spark.schema import SEQUENCES_SCHEMA

KEY = ["doc_id", "tier", "window_start"]


@pytest.fixture(scope="module")
def sweep_docs():
    return gen_local(seed=123, n_docs=12, max_tok=2048)


@pytest.fixture(scope="module")
def sweep_df(spark, sweep_docs):
    return spark.createDataFrame(sweep_docs, schema=SEQUENCES_SCHEMA).cache()


def _cmp(got, exp):
    got = got.sort_values(KEY).reset_index(drop=True)
    exp = exp.sort_values(KEY).reset_index(drop=True)
    assert len(got) == len(exp)
    for c in ["t_min", "t_max", "t_sum", "t_cnt", "t_last"]:
        assert got[c].tolist() == exp[c].tolist(), c
    assert (got.t_mean.to_numpy().view(np.int64) == exp.t_mean.to_numpy().view(np.int64)).all()


@pytest.mark.parametrize("w,fanout", [(7, 3), (32, 4), (100, 5), (64, 64)])
def test_w_fanout_sweep(spark, sweep_df, sweep_docs, w, fanout):
    """Odd window widths, small fanouts, ragged everything — still bitwise."""
    got = cascade(sweep_df, w=w, fanout=fanout, tiers=3).toPandas()
    exp = cascade_oracle(sweep_docs, w=w, fanout=fanout, tiers=3)
    _cmp(got, exp)


@pytest.mark.parametrize("parts", [1, 5, 17])
@pytest.mark.parametrize("strategy", ["pandas"])
def test_partition_strategy_matrix(spark, sweep_df, sweep_docs, parts, strategy):
    got = cascade(sweep_df.repartition(parts), w=32, fanout=4, tiers=2, strategy=strategy).toPandas()
    exp = cascade_oracle(sweep_docs, w=32, fanout=4, tiers=2)
    _cmp(got, exp)


def test_n_tok_disagreeing_with_tokens_rolls_up_every_token(spark, monkeypatch):
    """Rows datagen never makes: ``n_tok`` shorter or longer than the array,
    an empty array with ``n_tok > 0`` and a null array. The cascade and
    rollup_histogram roll up exactly the tokens present, whatever ``n_tok``
    says; the null row is dropped like an empty one."""
    import pandas as pd

    rows = [("short", [7, 8, 9], 2, "s"), ("long", [1, 2, 3, 4, 5], 8, "s"),
            ("empty", [], 3, "s"), ("null", None, 4, "s")]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int, source string")
    docs = pd.DataFrame([r for r in rows if r[1] is not None], columns=["doc_id", "tokens", "n_tok", "source"])
    exp = cascade_oracle(docs, w=2, fanout=2, tiers=2)
    _cmp(cascade(df, w=2, fanout=2, tiers=2).toPandas(), exp)
    _cmp(cascade(df, w=2, tiers=1).toPandas(), exp[exp.tier == 1])
    monkeypatch.setattr(rollup, "HIST_W", 2)
    hist = rollup_histogram(df).toPandas()
    t1 = exp[exp.tier == 1]
    assert sorted(zip(hist.doc_id, hist.window_start, hist.total)) == sorted(
        zip(t1.doc_id, t1.window_start, t1.t_cnt))


def test_null_token_element_is_a_named_error(spark):
    """A null INSIDE a token array (an external input whose list elements
    are nullable, as pyarrow writes them by default) is a named error from
    the cascade and the histogram, never a number: Arrow hands such a batch
    to pandas as float64 with NaN, which an int cast turns into INT32_MIN."""
    df = spark.createDataFrame([("holed", [1, None, 3], 3, "s"), ("ok", [5, 6], 2, "s")],
                               "doc_id string, tokens array<int>, n_tok int, source string")
    named = r"ValueError: doc_id 'holed': tokens array holds a null element"
    with pytest.raises(Exception, match=named):
        cascade(df, w=2, fanout=2, tiers=2).collect()
    with pytest.raises(Exception, match=named):
        rollup_histogram(df).collect()


@pytest.mark.parametrize("salts", [1, 4, 64])
def test_salt_count_sweep(spark, sweep_df, salts, monkeypatch):
    """Salted source rollup identical at any salt count."""
    t1 = cascade(sweep_df, w=32, fanout=4, tiers=1)
    base = salted_tier_source_rollup(t1).toPandas()
    monkeypatch.setattr(salted, "SALTS", salts)
    got = salted_tier_source_rollup(t1).toPandas()
    key = ["source", "tier", "window_start"]
    base = base.sort_values(key).reset_index(drop=True)
    got = got.sort_values(key).reset_index(drop=True)
    for c in ["t_min", "t_max", "t_sum", "t_cnt", "n_docs"]:
        assert got[c].tolist() == base[c].tolist(), c
    assert (got.t_mean.to_numpy().view(np.int64) == base.t_mean.to_numpy().view(np.int64)).all()


def test_round2_queries_partition_invariant(spark):
    """Round-2 query families must give BITWISE-identical results at any
    input partitioning: butterworth sosfilt checksums, rolling composites,
    drift augmentation, hann windows (all depend only on per-doc values +
    deterministic hashes, never on physical layout). Both partitionings
    run inside this one test so the comparison always executes (a
    parametrized version with cross-case state silently skipped the
    compare under -k / xdist)."""
    from pyspark.sql import functions as F

    from crossai_ts_spark.functions.iir import butterworth_docs
    from crossai_ts_spark.operators.augment import drift_additive
    from crossai_ts_spark.schema import SEQUENCES_SCHEMA

    docs = gen_local(seed=77, n_docs=8, max_tok=512)
    base = spark.createDataFrame(docs, schema=SEQUENCES_SCHEMA)

    def run(parts):
        df = base.repartition(parts)
        b = (
            butterworth_docs(df)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        d = (
            drift_additive(df)
            .select(
                "doc_id",
                F.expr(
                    "aggregate(transform(tokens_aug, v -> cast(floor(v * 1048576.0) as bigint)), "
                    "cast(0 as bigint), (a, b) -> a + b)"
                ).alias("chk"),
            )
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        return tuple(b.filt_chk.tolist()), tuple(d.chk.tolist())

    b1, d1 = run(1)
    b13, d13 = run(13)
    assert b1 == b13, "butterworth results depend on partitioning!"
    assert d1 == d13, "drift results depend on partitioning!"


def test_round3_queries_partition_invariant(spark, tmp_path):
    """Round-3 families bitwise-identical at any input partitioning:
    IVF assignment (literal model), repetition scores (per-row folds),
    strided-FIR resample checksum. Both partitionings run in one test."""
    import numpy as np

    from crossai_ts_spark.operators.similarity import ivf_assign, ivf_centroids
    from crossai_ts_spark.operators.textstats import repetition_scores

    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(list("abcdefg"), size=30)), "en", "t") for i in range(40)],
        "doc_id long, text string, lang string, source string",
    )
    cents = ivf_centroids(emb, 4)

    def run(parts):
        cells = (
            ivf_assign(emb.repartition(parts), cents)
            .select("vec_id", "cell")
            .toPandas().sort_values("vec_id").cell.tolist()
        )
        rep = (
            repetition_scores(docs.repartition(parts))
            .toPandas().sort_values("doc_id")
        )
        return tuple(cells), tuple(
            rep.top_bigram_frac.to_numpy().view(np.int64).tolist()
        )

    assert run(1) == run(13)


def test_round6_sketches_partition_invariant(spark):
    """Round-6 surfaces must give BITWISE-identical results at any input
    partitioning: the prefiltered KMV (HLL threshold + fallback), the
    HLL registers/estimate, the CMS cells, and the dyadic-alpha mixing
    weights all depend only on values and deterministic hashes, never on
    physical layout."""
    from pyspark.sql import functions as F

    from crossai_ts_spark.operators.cms import cms_build
    from crossai_ts_spark.operators.hll import hll_estimate, hll_sketch, kmv_sketch
    from crossai_ts_spark.operators.mixing import mixing_thresholds

    rows = [(i, f"2024-01-01 0{i % 3}:10:2{i % 5}", i * 7 % 311) for i in range(1500)]
    base = spark.createDataFrame(rows, "event_id long, ts_s string, user_id long")

    def run(parts):
        ev = base.repartition(parts).select(
            "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id"
        )
        km = kmv_sketch(ev).toPandas().sort_values("window_start")
        kv = [(int(w), tuple(ks), float(e)) for w, ks, e in
              zip(km.window_start, km.ks, km.n_distinct_est)]
        hl = (
            hll_estimate(hll_sketch(ev))
            .toPandas().sort_values("window_start")
        )
        hv = [(int(w), int(v), float(e)) for w, v, e in
              zip(hl.window_start, hl.v_empty, hl.est_distinct)]
        cm = (
            cms_build(ev.select(F.col("user_id").alias("ngram")))
            .toPandas().sort_values(["row", "cell"])
        )
        cv = list(map(tuple, cm.itertuples(index=False)))
        docs = base.repartition(parts).select(
            (F.col("user_id") % 5).cast("string").alias("source"),
            F.repeat(F.lit("x"), (F.col("event_id") % 97 + 1).cast("int")).alias("text"),
        )
        mx = mixing_thresholds(docs, target_tokens=20_000).toPandas().sort_values("source")
        mv = list(map(tuple, mx.itertuples(index=False)))
        return kv, hv, cv, mv

    r1 = run(1)
    r13 = run(13)
    for a, b, name in zip(r1, r13, ["kmv", "hll", "cms", "mixing"]):
        assert a == b, f"{name} results depend on partitioning!"


def test_kmv_prefilter_fallback_partition_invariant(spark, monkeypatch):
    """VERDICT r6 #8: the KMV exactness-fallback branch (hll.py) is the one
    path the round-6 invariance sweep never drove — force it with a
    too-deep threshold (candidate_factor < 1 keeps ~0.8 expected hashes
    per window, far short of k=8, so EVERY filtered window takes the
    broadcast redo) and assert the output is BITWISE equal to the
    unfiltered two-phase plan (oracle/plans.py) at 2/8/32 shuffle
    partitions."""
    from pyspark.sql import functions as F

    from crossai_ts_spark.operators import hll
    from crossai_ts_spark.oracle.plans import kmv_sketch_unfiltered

    rows = [(i, f"2024-01-01 0{i % 3}:10:2{i % 5}", i * 7 % 311) for i in range(1500)]
    base = spark.createDataFrame(rows, "event_id long, ts_s string, user_id long")
    ev = base.select("event_id", F.to_timestamp("ts_s").alias("ts"), "user_id")

    def as_rows(sk):
        km = sk.toPandas().sort_values("window_start")
        return [(int(w), tuple(ks), float(e)) for w, ks, e in
                zip(km.window_start, km.ks, km.n_distinct_est)]

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        want = as_rows(kmv_sketch_unfiltered(ev))
        monkeypatch.setattr(hll, "KMV_CANDIDATE_FACTOR", 0.1)  # every window -> redo
        for parts in (2, 8, 32):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            got = as_rows(hll.kmv_sketch(ev))
            assert got == want, f"fallback diverges at {parts} partitions"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
