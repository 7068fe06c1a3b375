"""Dedup, similarity-search and text-analysis operators."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "web"),
        (2, "the quick brown fox jumps over the lazy dog", "en", "web"),  # exact dup of 1
        (3, "the quick brown fox jumps over a lazy dog", "en", "web"),  # near dup
        (4, "der schnelle braune fuchs und der faule hund", "de", "web"),
        (5, "completely different words about spark engines here", "en", "code"),
        (6, "le renard brun rapide et le chien paresseux ensemble", "fr", "web"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_dedup_exact_canonical(spark, docs_df):
    from crossai_ts_spark.operators.dedup import dedup_exact

    got = dedup_exact(docs_df).toPandas().set_index("doc_id")
    assert bool(got.loc["1", "is_canonical"]) is True
    assert bool(got.loc["2", "is_canonical"]) is False  # dup of 1
    assert got.is_canonical.sum() == 5


def test_ngram_jaccard_finds_near_dup(spark, docs_df):
    from crossai_ts_spark.operators.dedup import ngram_jaccard_pairs, shingles

    sh = shingles(docs_df)
    pairs = ngram_jaccard_pairs(sh).toPandas()
    key = set(zip(pairs.doc_a, pairs.doc_b))
    assert ("1", "2") in key  # exact dup -> jaccard 1.0
    assert ("1", "3") in key  # near dup
    j12 = pairs[(pairs.doc_a == "1") & (pairs.doc_b == "2")].jaccard.iloc[0]
    assert j12 == 1.0
    assert not ((pairs.doc_a == "1") & (pairs.doc_b == "5")).any()


def test_minhash_lsh_candidates(spark, docs_df):
    from crossai_ts_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    sig = minhash_signatures(shingles(docs_df))
    pairs = lsh_candidate_pairs(sig).toPandas()
    key = set(zip(pairs.doc_a, pairs.doc_b))
    assert ("1", "2") in key  # identical signatures always collide


def test_simhash_identical_docs_match(spark, docs_df):
    from crossai_ts_spark.operators.dedup import shingles, simhash_signatures

    sig = simhash_signatures(shingles(docs_df)).toPandas().set_index("doc_id")
    assert sig.loc["1", "simhash"] == sig.loc["2", "simhash"]
    h13 = int(sig.loc["1", "simhash"]) ^ int(sig.loc["3", "simhash"])
    h15 = int(sig.loc["1", "simhash"]) ^ int(sig.loc["5", "simhash"])
    assert bin(h13).count("1") <= bin(h15).count("1")  # near-dup is closer


def test_cosine_topk_and_lsh(spark):
    from crossai_ts_spark.operators.similarity import lsh_topk
    from crossai_ts_spark.oracle.plans import cosine_topk

    rng = np.random.default_rng(42)
    base = rng.normal(0, 1, (20, 16)).astype(np.float32)
    base[1] = base[0] + rng.normal(0, 0.01, 16).astype(np.float32)  # near-dup pair
    emb = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(20)], "vec_id long, embedding array<float>"
    )
    got = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=3).toPandas()
    assert got.iloc[0].vec_id == 1 and got.iloc[0].cos_sim > 0.99

    ann = lsh_topk(emb, emb.filter(F.col("vec_id") == 0), 16).toPandas()
    assert 1 in set(ann.vec_id)  # near-identical vectors share every bucket


def test_textstats(spark, docs_df):
    from crossai_ts_spark.operators.textstats import lang_id, quality_scores, token_counts

    tc = token_counts(docs_df).toPandas().set_index("doc_id")
    assert tc.loc["1", "n_words"] == 9
    qs = quality_scores(docs_df).toPandas().set_index("doc_id")
    assert 0 <= qs.loc["1", "stopword_ratio"] <= 1
    li = lang_id(docs_df).toPandas().set_index("doc_id")
    assert li.loc["1", "lang_pred"] == "en"
    assert li.loc["4", "lang_pred"] == "de"
    assert li.loc["6", "lang_pred"] == "fr"


def test_pathological_universal_shingle_is_df_capped(spark, monkeypatch):
    """One shingle shared by EVERY doc: the uncapped self-join would emit
    n^2 rows; with the df cap the universal shingle is dropped from the
    capped universe and only genuinely-similar pairs survive."""
    from crossai_ts_spark.operators import dedup
    from crossai_ts_spark.operators.dedup import ngram_jaccard_pairs, shingles

    monkeypatch.setattr(dedup, "NGRAM_MAX_DF", 5)

    n = 60
    rows = [(i, f"common boiler plate unique{i} tail{i} word{i}", "en", "web") for i in range(n)]
    rows.append((n, "common boiler plate unique0 tail0 word0", "en", "web"))  # dup of 0
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    sh = shingles(docs)
    pairs = ngram_jaccard_pairs(sh).toPandas()
    # 'common boiler plate' (df = 61 > 5) never enters the join: no n^2
    # candidate blow-up, and the only surviving pair is the true dup
    assert set(zip(pairs.doc_a, pairs.doc_b)) == {("0", str(n))}
    assert pairs.jaccard.iloc[0] == 1.0


def test_lsh_bucket_cap_drops_degenerate_bucket(spark, monkeypatch):
    from crossai_ts_spark.operators import dedup
    from crossai_ts_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    # 40 identical docs -> identical signatures -> one bucket of 40 per band
    rows = [(i, "same exact words every single time here now", "en", "web") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    sig = minhash_signatures(shingles(docs))
    monkeypatch.setattr(dedup, "LSH_MAX_BUCKET", 10)
    capped = lsh_candidate_pairs(sig).toPandas()
    assert len(capped) == 0  # degenerate bucket dropped (exact dedup's job)
    # a cap above the input size keeps the 40-doc bucket
    monkeypatch.setattr(dedup, "LSH_MAX_BUCKET", 41)
    uncapped = lsh_candidate_pairs(sig).toPandas()
    assert len(uncapped) == 40 * 39 // 2


def test_embedding_near_dups_lsh_default_no_crossjoin(spark):
    from crossai_ts_spark.operators.dedup import embedding_near_dups
    from crossai_ts_spark.operators.similarity import EMB_DIM

    rng = np.random.default_rng(7)
    base = rng.normal(size=(30, EMB_DIM)).astype("float32")
    base[5] = base[3] + rng.normal(scale=1e-3, size=EMB_DIM).astype("float32")  # planted near-dup
    rows = [(i, [float(x) for x in base[i]]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    near = embedding_near_dups(emb)
    got = near.toPandas()
    assert {(3, 5)} == set(zip(got.id_a, got.id_b))
    # the physical plan must not contain a cartesian product
    assert "CartesianProduct" not in near._jdf.queryExecution().executedPlan().toString()


def test_ivf_cells_and_full_probe_is_exact(spark, monkeypatch):
    """Every corpus vector lands in one of the IVF_CENT cells, and probing
    every cell is the exhaustive search."""
    from crossai_ts_spark.operators import similarity
    from crossai_ts_spark.operators.similarity import IVF_CENT, ivf_assign, ivf_centroids, ivf_topk
    from crossai_ts_spark.oracle.plans import cosine_topk

    rng = np.random.default_rng(7)
    emb = rng.normal(size=(400, 16)).astype("float32")
    rows = [(i, [float(x) for x in emb[i]]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id < 8")

    def pairs(res):
        return set(zip(res.q_id, res.vec_id))

    truth = pairs(cosine_topk(df, q, k=similarity.ANN_K).toPandas())
    monkeypatch.setattr(similarity, "IVF_PROBE", IVF_CENT)
    assert pairs(ivf_topk(df, q).toPandas()) == truth

    cents = ivf_centroids(df, IVF_CENT)
    assert len(cents) == IVF_CENT and all(len(c) == 16 for c in cents)
    cells = ivf_assign(df, cents).select("cell").toPandas().cell
    assert cells.between(1, IVF_CENT).all()


def _boilerplate_corpus(spark, n_docs: int, dup_frac: float = 0.3, seed: int = 9):
    """Skewed corpus: dup_frac of docs are IDENTICAL boilerplate (the web
    reality that makes naive LSH quadratic), the rest unique."""
    rng = np.random.default_rng(seed)
    boiler = "cookie policy accept terms subscribe newsletter follow us on social media"
    rows = []
    for i in range(n_docs):
        if i < int(n_docs * dup_frac):
            rows.append((str(i), boiler, "en", "web"))
        else:
            words = " ".join(
                f"w{rng.integers(0, 5000)}" for _ in range(12)
            )
            rows.append((str(i), words, "en", "web"))
    return spark.createDataFrame(rows, "doc_id string, text string, lang string, source string")


def test_skewed_corpus_candidate_pairs_stay_linear(spark, monkeypatch):
    """30% identical boilerplate: uncapped LSH would emit O((0.3n)^2)
    candidate pairs from the boilerplate buckets alone. With the bucket
    cap, candidate counts must grow ~linearly in n (the cap drops the
    degenerate buckets; exact dedup owns identical docs)."""
    from crossai_ts_spark.operators import dedup
    from crossai_ts_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    monkeypatch.setattr(dedup, "LSH_MAX_BUCKET", 100)
    counts = {}
    for n in (1500, 3000):
        docs = _boilerplate_corpus(spark, n)
        sig = minhash_signatures(shingles(docs))
        counts[n] = lsh_candidate_pairs(sig).count()
    # quadratic growth would be 4x; linear is 2x. Allow slack for the
    # random unique-doc collisions (also ~linear).
    assert counts[3000] <= 2.5 * max(counts[1500], 1), counts
    # and the boilerplate block itself contributed ZERO pairs (capped):
    # any boilerplate pair would be (a, b) with both ids < 450
    docs = _boilerplate_corpus(spark, 1500)
    sig = minhash_signatures(shingles(docs))
    pairs = lsh_candidate_pairs(sig).toPandas()
    boiler_pairs = [
        (a, b) for a, b in zip(pairs.doc_a, pairs.doc_b)
        if int(a) < 450 and int(b) < 450
    ]
    assert boiler_pairs == []


def test_skewed_embeddings_bucket_cap_engages(spark, monkeypatch):
    """30% identical embedding vectors: the per-table bucket cap drops the
    degenerate buckets, keeping within-bucket pair cost bounded."""
    from crossai_ts_spark.operators import dedup
    from crossai_ts_spark.operators.similarity import EMB_DIM

    rng = np.random.default_rng(3)
    base = rng.normal(size=EMB_DIM).astype("float64")
    rows = []
    n = 900
    for i in range(n):
        v = base if i < 270 else rng.normal(size=EMB_DIM)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    monkeypatch.setattr(dedup, "EMB_MAX_BUCKET", 100)
    capped = dedup.embedding_near_dups(df).toPandas()
    # the 270 identical vectors would alone emit 36315 pairs; capped plan
    # must not emit any of them (their buckets exceed the cap)
    ident = [
        (a, b) for a, b in zip(capped.id_a, capped.id_b) if a < 270 and b < 270
    ]
    assert ident == []


def test_connected_components_min_label(spark):
    from crossai_ts_spark.operators.dedup import connected_components

    # path 1-2-3-4 (diameter 3), clique {7,8,9}, pair {20,21}
    edges = [("2", "1"), ("2", "3"), ("3", "4"),
             ("7", "8"), ("8", "9"), ("7", "9"),
             ("20", "21")]
    df = spark.createDataFrame(edges, "doc_a string, doc_b string")
    out = connected_components(df).toPandas().set_index("node").comp.to_dict()
    assert out == {"1": "1", "2": "1", "3": "1", "4": "1",
                   "7": "7", "8": "7", "9": "7", "20": "20", "21": "20"}

    # result is independent of input partitioning
    out13 = connected_components(df.repartition(13)).toPandas().set_index("node").comp.to_dict()
    assert out13 == out


def test_repetition_scores_semantics(spark):
    from crossai_ts_spark.operators.textstats import repetition_scores

    rows = [
        (1, "a a a b", "en", "t"),          # dup 1-2/4=0.5; bigrams aa,aa,ab -> 2/3
        (2, "w x y z", "en", "t"),          # no repetition
        (3, "spam spam spam spam", "en", "t"),  # fully degenerate
        (4, "solo", "en", "t"),             # < 2 words: filtered
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = repetition_scores(docs).toPandas().set_index("doc_id")
    assert set(out.index) == {"1", "2", "3"}
    assert out.loc["1", "dup_word_frac"] == 0.5
    assert abs(out.loc["1", "top_bigram_frac"] - 2 / 3) < 1e-15
    assert out.loc["2", "dup_word_frac"] == 0.0 and out.loc["2", "top_bigram_frac"] == 1 / 3
    assert out.loc["3", "dup_word_frac"] == 0.75 and out.loc["3", "top_bigram_frac"] == 1.0


def test_connected_components_long_chain_converges(spark):
    """A 200-node chain (diameter 199) far exceeds the round budget of
    plain neighbor-min propagation; pointer jumping converges in
    O(log d) rounds."""
    from crossai_ts_spark.operators.dedup import connected_components

    edges = [(f"{i:04d}", f"{i+1:04d}") for i in range(199)]
    df = spark.createDataFrame(edges, "doc_a string, doc_b string")
    out = connected_components(df).toPandas()
    assert (out.comp == "0000").all() and len(out) == 200


def test_asof_join_semantics(spark):
    from datetime import datetime

    from crossai_ts_spark.operators.asof import asof_join

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    left = spark.createDataFrame(
        [(1, t(10), 100), (1, t(20), 101), (1, t(5), 102), (2, t(10), 200)],
        "user_id long, ts timestamp_ntz, event_id long",
    )
    right = spark.createDataFrame(
        [(1, t(8), 900, 1.5), (1, t(10), 901, 2.5), (1, t(30), 902, 3.5)],
        "user_id long, ts timestamp_ntz, event_id long, value double",
    )

    back = asof_join(left, right, direction="backward").toPandas().set_index("event_id")
    assert back.loc[100, "r_event_id"] == 901        # equal ts is inclusive
    assert back.loc[101, "r_event_id"] == 901        # most recent <= 20s
    assert np.isnan(back.loc[102, "r_event_id"])     # nothing before 5s
    assert np.isnan(back.loc[200, "r_event_id"])     # user 2 has no views

    fwd = asof_join(left, right, direction="forward").toPandas().set_index("event_id")
    assert fwd.loc[100, "r_event_id"] == 901         # equal ts inclusive forward too
    assert fwd.loc[101, "r_event_id"] == 902
    assert fwd.loc[102, "r_event_id"] == 900


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_join_matches_merge_asof(spark, direction):
    """Random data against pandas.merge_asof: a `long` on column, equal
    left/right timestamps (both inclusive), several left rows on one
    timestamp, and keys with no right rows."""
    import random

    import pandas as pd

    from crossai_ts_spark.operators.asof import asof_join

    rng = random.Random(11)
    # u5/u6 hold left rows only; 2,000 timestamps for 550 rows forces
    # equal timestamps within and across the two sides
    lrows = [(f"u{rng.randrange(7)}", rng.randrange(0, 2_000), i) for i in range(400)]
    # right unique per (key, ts); it takes the first left rows' (key, ts)
    # too, so equal-timestamp matches occur whatever the draw
    rkeys = {(k, t) for k, t, _ in lrows[:20] if k < "u5"}
    while len(rkeys) < 150:
        rkeys.add((f"u{rng.randrange(5)}", rng.randrange(0, 2_000)))
    rrows = [(k, t, i * 10) for i, (k, t) in enumerate(sorted(rkeys))]
    left = spark.createDataFrame(lrows, "user_id string, ts long, lseq long")
    right = spark.createDataFrame(rrows, "user_id string, ts long, rval long")

    got = (
        asof_join(left, right, direction=direction)
        .toPandas().set_index("lseq").sort_index()
    )
    lp = pd.DataFrame(lrows, columns=["user_id", "ts", "lseq"]).sort_values("ts")
    rp = pd.DataFrame(rrows, columns=["user_id", "r_ts", "rval"]).sort_values("r_ts")
    exp = (
        pd.merge_asof(lp, rp, left_on="ts", right_on="r_ts", by="user_id",
                      direction=direction, allow_exact_matches=True)
        .rename(columns={"rval": "r_rval"}).set_index("lseq").sort_index()
    )
    assert len(got) == len(lrows) and got.index.equals(exp.index)
    assert got.user_id.tolist() == exp.user_id.tolist()
    assert got.ts.tolist() == exp.ts.tolist()
    for c in ("r_ts", "r_rval"):
        g, e = got[c].astype("float64"), exp[c].astype("float64")
        assert g.isna().equals(e.isna()), c
        assert (g[g.notna()] == e[e.notna()]).all(), c
    assert got.r_rval.isna().any() and got.r_rval.notna().any()
    assert got[got.user_id.isin(["u5", "u6"])].r_rval.isna().all()
    assert (got.ts == got.r_ts).any()  # an equal-timestamp match was taken


def test_bloom_build_prune_no_false_negatives(spark):
    from crossai_ts_spark.operators.bloom import bloom_bitset, bloom_build, bloom_test_col

    build = spark.range(0, 2000, 2).withColumnRenamed("id", "c_custkey")  # evens < 2000
    probe = spark.range(0, 8000).withColumnRenamed("id", "key")
    bits = bloom_bitset(bloom_build(build))
    assert len(bits) == 512 and any(b != 0 for b in bits)

    pruned = probe.filter(bloom_test_col(bits, F.col("key")))
    passed = set(r.key for r in pruned.collect())
    members = set(range(0, 2000, 2))
    assert members <= passed                      # NO false negatives, ever
    fp = len(passed - members)
    assert fp / (8000 - len(members)) < 0.05      # pruning actually prunes
    assert len(passed) < 8000


def test_lm_bigram_nll_semantics(spark):
    import math

    from crossai_ts_spark.operators.textstats import lm_bigram_nll

    rows = [(1, "a b a b", "en", "t"), (2, "a b", "en", "t"), (3, "b z", "en", "t")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = lm_bigram_nll(docs).toPandas().set_index("doc_id")
    # corpus bigrams: ab x3, ba x1, bz x1; c(a)=3? no: contexts a x3, b x2; V=3
    # p(b|a) = (3+1)/(3+3); p(a|b) = (1+1)/(2+3); p(z|b) = (1+1)/(2+3)
    p_ab, p_ba, p_bz = 4 / 6, 2 / 5, 2 / 5

    def q(p):
        return math.floor(-math.log(p) * 1048576.0)

    assert out.loc["1", "nll_q"] == q(p_ab) + q(p_ba) + q(p_ab)
    assert out.loc["1", "n_bigrams"] == 3
    assert out.loc["2", "nll_q"] == q(p_ab)
    assert out.loc["2", "n_bigrams"] == 1
    # rare continuation scores worse than the common one
    assert out.loc["3", "nll_q"] == q(p_bz)
    assert out.loc["3", "nll_q"] > out.loc["2", "nll_q"]


# ---------------------------------------------------------------------
# substring-level dedup (Lee et al. 2022 shape)
# ---------------------------------------------------------------------


def test_duplicated_spans_merge_and_stats(spark):
    from crossai_ts_spark.operators.dedup import duplicated_spans, substring_dedup_stats

    boiler = "SUBSCRIBE-TO-OUR-NEWSLETTER-TODAY"  # 33 chars, shared
    rows = [
        (1, "aaa" + boiler + "qrstuvwxyz0123456789", "en", "t"),
        (2, "bbbbb" + boiler + "zyx9876543210fedcba9", "en", "t"),
        (3, "totally distinct text with no repeats at all here", "en", "t"),
        (4, boiler, "en", "t"),  # doc IS the boilerplate
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    spans = duplicated_spans(docs).toPandas()
    by_doc = {d: sorted(zip(g.span_start, g.span_end)) for d, g in spans.groupby("doc_id")}
    # every w-window of the 33-char boilerplate repeats -> ONE merged span
    # of exactly the boilerplate extent in each containing doc
    assert by_doc["1"] == [(3, 3 + 33)]
    assert by_doc["2"] == [(5, 5 + 33)]
    assert by_doc["4"] == [(0, 33)]
    assert "3" not in by_doc

    stats = substring_dedup_stats(docs).toPandas().set_index("doc_id")
    assert len(stats) == 4  # span-free docs present with zeros
    assert stats.loc["3", "n_spans"] == 0 and stats.loc["3", "dup_tokens"] == 0
    assert stats.loc["4", "dup_tokens"] == 33 and stats.loc["4", "dup_frac"] == 1.0
    assert stats.loc["1", "n_spans"] == 1 and stats.loc["1", "dup_tokens"] == 33


def test_apply_substring_dedup_mask(spark):
    from crossai_ts_spark.operators.dedup import apply_substring_dedup

    # chars adjacent to the boilerplate differ per doc, so the maximal
    # common (= duplicated) region is exactly the boilerplate
    boiler = "REPEATED-FOOTER-BLOCK-1234567890"  # 32 chars
    rows = [
        (1, "headA1" + boiler + "2tailA", "en", "t"),
        (2, "headB3" + boiler + "4tailB", "en", "t"),
        (3, boiler, "en", "t"),                      # fully removed -> ""
        (4, "no duplicated content in here at all ok", "en", "t"),  # untouched
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = apply_substring_dedup(docs).toPandas().set_index("doc_id")
    assert out.loc["1", "clean_text"] == "headA1" + "2tailA"
    assert out.loc["2", "clean_text"] == "headB3" + "4tailB"
    assert out.loc["3", "clean_text"] == "" and out.loc["3", "clean_len"] == 0
    assert out.loc["4", "clean_text"] == rows[3][1]
    assert (out.clean_len == out.clean_text.str.len()).all()


def test_substring_dedup_hot_window_stays_linear(spark):
    """Bounded-candidate skew check: one boilerplate window shared by HALF
    the corpus must cost O(d) rows (one per occurrence), never the O(d^2)
    a pair-emitting design would -- there is no pairing stage at all."""
    from crossai_ts_spark.operators.dedup import duplicated_spans

    import hashlib

    def gibberish(i):  # 64 unique chars, no cross-doc or within-doc repeats >= w
        return (
            hashlib.md5(f"a{i}".encode()).hexdigest()
            + hashlib.md5(f"b{i}".encode()).hexdigest()
        )

    boiler = "X" * 40
    n = 400
    rows = [
        (i, (gibberish(i)[:8] + boiler) if i < n // 2 else gibberish(i), "en", "t")
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    pd_spans = duplicated_spans(docs).toPandas()
    # exactly one merged span per boilerplate doc; linear, not quadratic
    assert len(pd_spans) == n // 2
    assert set(pd_spans.doc_id) == {str(i) for i in range(n // 2)}


def test_keepfirst_mega_boilerplate_no_per_hash_sort(spark):
    """keep_first on a window hash occurring in EVERY doc (the
    mega-boilerplate case): exactly one canonical occurrence — the
    (doc_id, off)-smallest — survives, and the plan contains no
    row_number window over the hash (which would sort the whole 10^8-
    occurrence list on one task at scale); the canonical pick is a
    map-side-combined min-struct aggregate + anti join."""
    import hashlib

    from crossai_ts_spark.operators.dedup import duplicated_spans

    def gibberish(i):
        return (
            hashlib.md5(f"a{i}".encode()).hexdigest()
            + hashlib.md5(f"b{i}".encode()).hexdigest()
        )

    boiler = "Y" * 25
    n = 300
    rows = [(i, gibberish(i)[:6] + boiler, "en", "t") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    spans = duplicated_spans(docs, keep_first=True)
    plan = spans._jdf.queryExecution().executedPlan().toString() if False else \
        spans._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" not in plan.lower(), "keep_first must not sort per hash"
    got = spans.toPandas()
    # every doc except the canonical one (doc_id '0' sorts smallest as
    # string among 0..299... careful: string order) keeps its span removed
    canon = min((str(i) for i in range(n)))
    assert canon not in set(got.doc_id)
    assert len(got) == n - 1  # one merged span per non-canonical doc


def test_contamination_scores_semantics(spark):
    import hashlib

    from crossai_ts_spark.operators.dedup import SUBSTR_W, contamination_scores

    def gib(tag):
        return hashlib.md5(tag.encode()).hexdigest() + hashlib.md5((tag + "x").encode()).hexdigest()

    leak = "BENCHMARK-ANSWER-STRING-42"  # 26 chars, >= SUBSTR_W
    ev = spark.createDataFrame(
        [(100, gib("e1")[:10] + leak, "en", "eval")],
        "doc_id long, text string, lang string, source string",
    )
    tr = spark.createDataFrame(
        [
            (1, gib("t1")[:20] + leak + gib("t2")[:20], "en", "web"),  # contains the leak
            (2, gib("t3"), "en", "web"),                               # clean
            (3, "short", "en", "web"),                                 # < w: 0 windows
        ],
        "doc_id long, text string, lang string, source string",
    )
    w = SUBSTR_W
    out = contamination_scores(tr, ev).toPandas().set_index("doc_id")
    assert len(out) == 3
    n1 = len(tr.collect()[0].text) - w + 1
    assert out.loc["1", "n_windows"] == n1
    # contaminated windows = those fully inside the 26-char leak = 26-w+1
    assert out.loc["1", "n_contaminated"] == len(leak) - w + 1
    assert 0 < out.loc["1", "contam_frac"] < 1
    assert out.loc["2", "n_contaminated"] == 0 and out.loc["2", "contam_frac"] == 0.0
    assert out.loc["3", "n_windows"] == 0 and out.loc["3", "contam_frac"] == 0.0


def test_bm25_scores_semantics(spark, monkeypatch):
    import math

    from crossai_ts_spark.operators import textstats
    from crossai_ts_spark.operators.textstats import bm25_scores

    monkeypatch.setattr(textstats, "BM25_TERMS", ["join"])

    rows = [
        (1, "spark join join join fast", "en", "t"),   # tf(join)=3, dl=5
        (2, "join once here", "en", "t"),              # tf(join)=1, dl=3
        (3, "nothing relevant at all", "en", "t"),     # no hits
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = bm25_scores(docs).toPandas().set_index("doc_id")
    assert len(out) == 3
    assert out.loc["3", "n_hit_terms"] == 0 and out.loc["3", "bm25_q"] == 0

    n_docs, sum_dl, df = 3, 12, 2
    avgdl = sum_dl / n_docs
    idf = math.log(1 + (n_docs - df + 0.5) / (df + 0.5))

    def q(tf, dl):
        sat = tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        return math.floor(idf * sat * 1048576.0)

    assert out.loc["1", "bm25_q"] == q(3, 5)
    assert out.loc["2", "bm25_q"] == q(1, 3)
    # higher tf => higher score
    assert out.loc["1", "bm25_q"] > out.loc["2", "bm25_q"]


def test_substring_dedup_keep_first(spark):
    from crossai_ts_spark.operators.dedup import duplicated_spans

    boiler = "KEEP-ONE-COPY-OF-THIS-REGION-99"  # 31 chars
    rows = [
        (1, "headA1" + boiler + "2tailA", "en", "t"),
        (2, "headB3" + boiler + "4tailB", "en", "t"),
        (3, "headC5" + boiler + "6tailC", "en", "t"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    # both-copies variant marks the region in all three docs
    both = duplicated_spans(docs).toPandas()
    assert set(both.doc_id) == {"1", "2", "3"}
    # keep-first exempts the canonical occurrence: doc "1" (smallest
    # (doc_id, off) per window hash) keeps its copy untouched
    kf = duplicated_spans(docs, keep_first=True).toPandas()
    assert set(kf.doc_id) == {"2", "3"}


def test_gopher_rules_semantics(spark):
    from crossai_ts_spark.operators.textstats import gopher_rules

    good = " ".join(["the and of to a in is"] * 8 + ["quality content words here"] * 7)
    rows = [
        (1, good, "en", "t"),                                # passes everything
        (2, "too few words here", "en", "t"),                # fails min_words
        (3, " ".join(["####"] * 60), "en", "t"),             # fails symbols+alpha+stopwords
        (4, " ".join(["a"] * 60), "en", "t"),                # mean wlen 1 < 3
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = gopher_rules(docs).toPandas().set_index("doc_id")
    assert bool(out.loc["1", "keep"]) is True
    assert bool(out.loc["2", "ok_nwords"]) is False and not out.loc["2", "keep"]
    assert bool(out.loc["3", "ok_symbols"]) is False
    assert bool(out.loc["3", "ok_alpha"]) is False
    assert bool(out.loc["4", "ok_wlen"]) is False and bool(out.loc["4", "ok_nwords"]) is True
    assert (~out.loc[["2", "3", "4"], "keep"].astype(bool)).all()


def test_sequence_packing_semantics(spark):
    from crossai_ts_spark.operators.packing import PACK_SEQ_LEN, pack_sequences

    u = PACK_SEQ_LEN // 64  # sizes below in 64ths of a pack
    rows = [
        ("a01", "s1", 30 * u), ("a02", "s1", 30 * u), ("a03", "s1", 50 * u),  # s1: 110/64 packs
        ("b01", "s2", 64 * u), ("b02", "s2", 64 * u),                          # s2: exact fits
    ]
    seqs = spark.createDataFrame(rows, "doc_id string, source string, n_tok long")
    out = pack_sequences(seqs).toPandas().set_index("doc_id")
    # s1: a01 [0,30u) pack0; a02 [30u,60u) pack0; a03 [60u,110u) straddles 0->1
    assert out.loc["a01", "pack_id"] == 0 and out.loc["a01", "pack_off"] == 0
    assert out.loc["a02", "pack_id"] == 0 and out.loc["a02", "pack_off"] == 30 * u
    assert bool(out.loc["a02", "spans_packs"]) is False
    assert out.loc["a03", "pack_id"] == 0 and out.loc["a03", "pack_off"] == 60 * u
    assert bool(out.loc["a03", "spans_packs"]) is True and out.loc["a03", "n_packs_touched"] == 2
    # s2: exact boundary — b02 starts cleanly in pack 1, no straddle
    assert out.loc["b01", "pack_id"] == 0 and bool(out.loc["b01", "spans_packs"]) is False
    assert out.loc["b02", "pack_id"] == 1 and out.loc["b02", "pack_off"] == 0
    assert bool(out.loc["b02", "spans_packs"]) is False

    # per-pack inventory of s1's pack 0: docs starting there, their tokens,
    # boundary straddlers
    s1p0 = out[(out.source == "s1") & (out.pack_id == 0)]
    assert len(s1p0) == 3 and s1p0.n_tok.sum() == 110 * u and s1p0.spans_packs.sum() == 1

    # shards are independent: repartitioning must not change the packing
    out13 = pack_sequences(seqs.repartition(13)).toPandas().set_index("doc_id")
    assert out13.sort_index().equals(out.sort_index())


def test_packing_two_phase_equals_global_and_bounds_hot_shard(spark):
    """The two-phase bucketed cumsum is bitwise the one-window plan (the
    global prefix sum is invariant to where the contiguous cuts fall), and
    a Zipf-hot shard (one source = 50% of docs) spreads across many
    buckets instead of serializing on one task."""
    import math

    from crossai_ts_spark.operators.packing import _bucketed_cumsum, pack_sequences
    from crossai_ts_spark.oracle.plans import _pack_sequences_global

    n = 4000
    rows = [
        (f"d{i:05d}", "hot" if i % 2 == 0 else f"s{i % 7}", 17 + (i * 37) % 400)
        for i in range(n)
    ]
    seqs = spark.createDataFrame(rows, "doc_id string, source string, n_tok long")
    cols = ["doc_id", "source", "n_tok", "cum_start", "pack_id", "pack_off",
            "spans_packs", "n_packs_touched"]
    got = pack_sequences(seqs).toPandas().sort_values("doc_id").reset_index(drop=True)[cols]
    want = (
        _pack_sequences_global(seqs)
        .toPandas().sort_values("doc_id").reset_index(drop=True)[cols]
    )
    assert got.equals(want)

    # hot-shard boundedness: no (shard, bucket) group — i.e. no single
    # window task input — holds more than a few range-partitions' worth
    bk = _bucketed_cumsum(seqs)
    per = bk.groupBy("source", "_bucket").count().toPandas()
    hot = per[per.source == "hot"]
    assert len(hot) >= 16, f"hot shard landed in only {len(hot)} buckets"
    cap = 3 * math.ceil(n / 64)
    assert per["count"].max() <= cap, (
        f"a (shard,bucket) group holds {per['count'].max()} rows (cap {cap})"
    )


def test_source_mixing_weights_semantics(spark):
    import math

    from crossai_ts_spark.entry_queries import REGISTRY
    import tempfile, os

    rows = [
        (1, "x" * 1000, "en", "big"),
        (2, "y" * 1000, "en", "big"),
        (3, "z" * 100, "en", "small"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    d = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = REGISTRY["source_mixing_weights"][0](spark, d).toPandas().set_index("source")

    # reference recipe: the dyadic-alpha sqrt chain in pure-Python IEEE
    # doubles (bitwise-identical to the Spark/DuckDB chain by design)
    def w_q(n):
        from crossai_ts_spark.operators.mixing import ALPHA_BITS

        r = 1.0
        for bit in reversed(ALPHA_BITS):
            r = math.sqrt(r * float(n)) if bit else math.sqrt(r)
        return math.floor(r * 1048576.0)

    # dyadic alpha = 0.699997 tracks n^0.7 to ~5e-6 relative
    assert abs(w_q(2000) - 2000**0.7 * 1048576.0) / (2000**0.7 * 1048576.0) < 1e-4
    assert out.loc["big", "w_q"] == w_q(2000) and out.loc["small", "w_q"] == w_q(100)
    assert abs(out.mix_weight.sum() - 1.0) < 1e-12
    # temperature upweights the small shard relative to raw token share
    raw_small = 100 / 2100
    assert out.loc["small", "mix_weight"] > raw_small


def test_segment_dedup_semantics(spark):
    """10-word blocks: docs sharing an identical aligned block are flagged;
    a shared phrase NOT aligned to block boundaries is not (the documented
    CCNet-segment semantics); ragged tails count as segments."""
    from crossai_ts_spark.operators.dedup import segment_dedup

    block = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    rows = [
        (1, block + " a1 a2 a3", "en", "t"),          # block + 3-word tail
        (2, block + " b1 b2 b3 b4", "en", "t"),       # same first block
        (3, "x0 " + block[: -4] + " z9 z8", "en", "t"),  # misaligned overlap
        (4, "u1 u2 u3", "en", "t"),                    # single short segment
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    got = segment_dedup(docs).toPandas().set_index("doc_id")
    assert got.loc["1", "n_segs"] == 2 and got.loc["1", "n_dup_segs"] == 1
    assert got.loc["2", "n_segs"] == 2 and got.loc["2", "n_dup_segs"] == 1
    assert got.loc["1", "dup_seg_frac"] == 0.5
    assert got.loc["3", "n_dup_segs"] == 0
    assert got.loc["4", "n_segs"] == 1 and got.loc["4", "n_dup_segs"] == 0


def test_ngram_topk_counts_and_tiebreak(spark):
    from crossai_ts_spark.operators.textstats import ngram_topk

    rows = [
        (1, "a b a b c", "en", "t"),   # bigrams: "a b" x2, "b a", "b c"
        (2, "a b z z", "en", "t"),     # "a b", "b z", "z z"
        (3, "q", "en", "t"),           # shorter than n: contributes nothing
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    got = ngram_topk(docs).toPandas()
    assert list(got.ngram) == ["a b", "b a", "b c", "b z", "z z"]  # 3 then ties text-asc
    assert list(got.cnt) == [3, 1, 1, 1, 1]
    assert list(got["rank"]) == [1, 2, 3, 4, 5]


def test_centroid_distances_exact_vs_numpy(spark):
    """dist2 equals the numpy recomputation with identical quantization
    and op order EXACTLY (integer-sum centroid, in-order fold)."""
    import numpy as np

    from crossai_ts_spark.operators.similarity import centroid_distances

    rng = np.random.default_rng(11)
    vecs = rng.normal(0, 1, (30, 8)).astype(np.float32)
    labels = [int(i % 3) for i in range(30)]
    emb = spark.createDataFrame(
        [(i, vecs[i].tolist(), labels[i]) for i in range(30)],
        "vec_id long, embedding array<float>, label int",
    )
    got = centroid_distances(emb).toPandas().set_index("vec_id")

    Q = 1048576.0
    fq = np.floor(vecs.astype(np.float64) * Q)
    for lab in set(labels):
        idx = [i for i in range(30) if labels[i] == lab]
        s = fq[idx].sum(axis=0)  # exact integers -> order-free
        c = (s / float(len(idx))) / Q
        for i in idx:
            d = 0.0
            for k in range(8):
                t = fq[i, k] / Q - c[k]
                d += t * t
            assert got.loc[i, "dist2"] == d
            assert bool(got.loc[i, "is_outlier"]) == (d >= 1.0)


def test_cms_one_sided_and_merge(spark):
    """CMS cells are bounded (<= CMS_D*CMS_W rows, every cell in [0, CMS_W))
    and sum to CMS_D*n_items, estimates are >= exact counts always (one-sided error),
    exact for keys with no cell collisions at small load, and the sketch
    merges by elementwise addition (sum of two halves' sketches ==
    whole-stream sketch, bitwise)."""
    import pandas as pd

    from crossai_ts_spark.operators.cms import CMS_D, CMS_W, cms_build, cms_lookup

    rows = [(i, f"k{i % 37}") for i in range(1000)]
    items = spark.createDataFrame(rows, "i long, ngram string")
    sk = cms_build(items)
    spdf = sk.toPandas()
    assert len(spdf) <= CMS_D * CMS_W
    assert spdf.cnt.sum() == CMS_D * 1000  # every item hit CMS_D cells
    assert spdf.cell.between(0, CMS_W - 1).all()
    queries = items.select("ngram").distinct()
    est = cms_lookup(sk, queries).toPandas().set_index("ngram")
    exact = items.groupBy("ngram").count().toPandas().set_index("ngram")
    for k in exact.index:
        assert est.loc[k, "est"] >= exact.loc[k, "count"]
    # absent key estimates >= 0 (and usually 0 at this load)
    absent = cms_lookup(
        sk, spark.createDataFrame([("zebra quux",)], "ngram string")
    ).toPandas()
    assert absent.est.iloc[0] >= 0

    # mergeability: sketch(first half) + sketch(second half) == sketch(all)
    h1 = cms_build(items.filter("i < 500"))
    h2 = cms_build(items.filter("i >= 500"))
    merged = (
        h1.unionByName(h2).groupBy("row", "cell").agg(F.sum("cnt").alias("cnt"))
        .toPandas().sort_values(["row", "cell"]).reset_index(drop=True)
    )
    whole = sk.toPandas().sort_values(["row", "cell"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(merged, whole, check_dtype=False)


def test_apply_mixing_semantics(spark):
    """Temperature mixing: the low-resource source keeps everything
    (rate clamps at 1), the hot source is subsampled near its computed
    rate, and the kept set is identical across reruns and repartitioning
    (pure hash decision — the resumability property)."""
    from crossai_ts_spark.operators.mixing import apply_mixing, mixing_thresholds

    rows = [(i, "x" * 100, "en", "hot" if i < 900 else "rare") for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    T = 80_000.0  # 80% of the 100k corpus tokens

    thr = mixing_thresholds(docs, T).toPandas().set_index("source")
    # temperature upweights the rare shard: its rate clamps to 1.0
    assert thr.loc["rare", "thr"] == 2**60
    assert thr.loc["hot", "thr"] < 2**60

    kept = apply_mixing(docs, T).toPandas()
    assert (kept[kept.source == "rare"].shape[0]) == 100  # all kept
    hot_kept = (kept.source == "hot").sum()
    hot_rate = thr.loc["hot", "thr"] / 2**60
    assert abs(hot_kept - 900 * hot_rate) < 900 * 0.1  # hash-uniformity band

    again = apply_mixing(docs.repartition(13), T).toPandas()
    assert sorted(again.doc_id) == sorted(kept.doc_id)


def test_mixing_pow_agreement(spark):
    """ADVICE r5-E: w_q = floor(n^alpha * 2^20) must quantize identically
    in Spark and DuckDB at ANY n. libm pow() does NOT deliver that (the
    same sweep against pow measured 31/8000 floor flips at n >~ 10^11 —
    1 ulp of pow exceeds one w_q unit there), which is why alpha is
    dyadic (ALPHA_Q16/2^16) and n^alpha is the sqrt-multiply chain:
    every op IEEE correctly-rounded, hence bitwise identical. Sweep
    small, dense, and large pseudo-random n through both engines and
    demand exact equality."""
    import duckdb

    from crossai_ts_spark.operators.mixing import pow_alpha, pow_alpha_sql

    ns = list(range(1, 4001)) + [
        (1_000_003 * k * k + 7 * k) % (10**13) + 10**6 for k in range(4000)
    ]
    sdf = spark.createDataFrame([(n,) for n in ns], "n long").select(
        "n",
        F.floor(pow_alpha(F.col("n")) * F.lit(1048576.0)).cast("long").alias("w_q"),
    )
    got = {r["n"]: r["w_q"] for r in sdf.collect()}
    con = duckdb.connect()
    chain = pow_alpha_sql()
    want = dict(
        con.execute(
            f"SELECT n_tokens, floor({chain} * 1048576.0)::BIGINT "
            "FROM (SELECT UNNEST(?::BIGINT[]) AS n_tokens)",
            [ns],
        ).fetchall()
    )
    con.close()
    diff = {n: (got[n], want[n]) for n in ns if got[n] != want[n]}
    assert not diff, f"{len(diff)} w_q mismatches, e.g. {list(diff.items())[:3]}"


def test_minhash_signatures_invariant_to_shingle_distinct(spark, docs_df):
    """min over the shingle multiset == min over its set: the r8 fast path
    (shingles distinct=False feeding MinHash) must produce IDENTICAL
    signatures — and therefore identical LSH candidate pairs — to the
    set-semantics path."""
    from crossai_ts_spark.operators.dedup import minhash_signatures, shingles

    # repetition inside one doc exercises the multiset/set difference
    rows = [(i, t) for i, t in enumerate([
        "a b c a b c a b c d e f",
        "a b c d e f g h i",
        "x y z x y z x y z",
    ])]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    s_set = minhash_signatures(shingles(docs, distinct=True)).toPandas()
    s_multi = minhash_signatures(shingles(docs, distinct=False)).toPandas()
    key = "doc_id"
    a = s_set.sort_values(key).reset_index(drop=True)
    b = s_multi.sort_values(key).reset_index(drop=True)
    assert a.equals(b)
