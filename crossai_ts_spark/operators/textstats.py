"""Text analysis over the documents table: language-ID, quality scoring,
token counting, fingerprinting. Pure columnar expressions (codegen'd) —
no UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

STOPWORDS = ["the", "and", "of", "to", "a", "in", "is"]

# marker words per language for the n-gram-free heuristic (deterministic,
# oracle-portable); real corpora would use char-trigram profiles.
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "y", "los"],
    "zh": ["de", "le", "shi"],
}

# ngram_topk: bigrams kept; the DuckDB oracle's LIMIT reads it too
NGRAM_TOPK = 50


def _words():
    return F.filter(F.split(F.col("text"), " "), lambda w: w != "")


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish subword estimate (len/4 heuristic +
    punctuation splits) — the standard pretraining budget estimator."""
    words = _words()
    bpe_ish = F.ceil(F.length("text") / 4.0).cast("long")
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.size(words).cast("long").alias("n_words"),
        F.length("text").cast("long").alias("n_chars"),
        bpe_ish.alias("n_tokens_est"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Length/punct/stopword-ratio quality features."""
    words = _words()
    n_words = F.size(words).cast("double")
    stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS))).cast("double")
    n_punct = (
        F.length("text") - F.length(F.regexp_replace(F.col("text"), r"[\.,;:!\?]", ""))
    ).cast("double")
    mean_wlen = (
        F.aggregate(words, F.lit(0).cast("long"), lambda a, w: a + F.length(w)).cast("double")
        / n_words
    )
    return docs.filter(F.size(words) > 0).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        n_words.cast("long").alias("n_words"),
        (stop / n_words).alias("stopword_ratio"),
        (n_punct / F.length("text").cast("double")).alias("punct_ratio"),
        mean_wlen.alias("mean_word_len"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-word language heuristic with deterministic tie-break (first
    language in fixed order wins ties)."""
    words = _words()

    def marker_score(markers: list[str]):
        # NB: a default-arg lambda (lambda w, m=m: ...) would be mis-read by
        # F.filter as a two-arg (element, index) lambda — use a closure.
        return F.size(F.filter(words, lambda w: w.isin(*markers)))

    scores = [marker_score(m).alias(f"s_{lang}") for lang, m in LANG_MARKERS.items()]
    d = docs.select(F.col("doc_id").cast("string").alias("doc_id"), F.col("lang").alias("lang_true"), *scores)
    langs = list(LANG_MARKERS)
    pred = F.lit(langs[0])
    best = F.col(f"s_{langs[0]}")
    for lang in langs[1:]:
        pred = F.when(F.col(f"s_{lang}") > best, F.lit(lang)).otherwise(pred)
        best = F.greatest(best, F.col(f"s_{lang}"))
    return d.select("doc_id", "lang_true", pred.alias("lang_pred"), best.cast("long").alias("score"))


def repetition_scores(docs: DataFrame) -> DataFrame:
    """Repetition-based quality filters (the Gopher/MassiveText family):
    duplicate-word fraction and most-frequent-bigram fraction per doc —
    the signals that catch boilerplate and degenerate machine-generated
    text that length/stopword ratios miss.

    Shuffle-free: the bigram multiplicity max is computed per row by
    hash -> array_sort -> one linear run-length fold (no explode/groupBy;
    a 100k-word doc costs O(w log w) inside codegen, and rows never leave
    their partition).
    """
    words = _words()
    d = docs.select(F.col("doc_id").cast("string").alias("doc_id"), words.alias("ws")).filter(
        F.size("ws") >= 2
    )
    n = F.size("ws").cast("long")
    dup = F.lit(1.0).cast("double") - F.size(F.array_distinct("ws")).cast("double") / F.size(
        "ws"
    ).cast("double")
    bg = F.transform(
        F.sequence(F.lit(0), F.size("ws") - 2),
        lambda i: F.conv(
            F.substring(F.md5(F.concat_ws("\x1f", F.slice("ws", i + 1, 2)).cast("binary")), 1, 15),
            16,
            10,
        ).cast("long"),
    )
    init = F.array(F.lit(-1).cast("long"), F.lit(0).cast("long"), F.lit(0).cast("long"))

    def step(s, x):
        run = F.when(x == s[0], s[1] + F.lit(1).cast("long")).otherwise(F.lit(1).cast("long"))
        return F.array(x, run, F.greatest(s[2], run))

    maxrun = F.aggregate(F.array_sort(bg), init, step)[2]
    return d.select(
        "doc_id",
        n.alias("n_words"),
        dup.alias("dup_word_frac"),
        (maxrun.cast("double") / (n - 1).cast("double")).alias("top_bigram_frac"),
    )


def lm_bigram_nll(docs: DataFrame) -> DataFrame:
    """CCNet/Gopher-style language-model quality score: fit an add-1
    smoothed bigram LM on the corpus itself, score each doc by mean
    negative log-likelihood (high = out-of-distribution/garbled).

    Distributed fit = two count aggregations over the exploded bigram
    table; scoring joins the model back (at web scale: shuffle joins on
    the bigram key — the model IS data-sized, never driver-collected).
    Each term ships as floor(-ln(p) * 2^20) and the per-doc sum is pure
    int64 (`nll_q` column): JVM Math.log and C libm ln disagree in the
    last ulp on some inputs, so a double fold of the raw terms would not
    be cross-engine exact. The sum folds a position-ordered list. Output:
    (doc_id, n_bigrams, nll_q); nll_q / 2^20 / n_bigrams approximates the
    mean NLL to within 2^-20.
    """
    words = _words()
    d = docs.select(F.col("doc_id").cast("string").alias("doc_id"), words.alias("ws"))
    f = d.filter(F.size("ws") >= 2)
    bg = F.transform(
        F.sequence(F.lit(0), F.size("ws") - 2),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.element_at("ws", i + 1).alias("w1"),
            F.element_at("ws", i + 2).alias("w2"),
        ),
    )
    e = f.select("doc_id", F.explode(bg).alias("p")).select(
        "doc_id", F.col("p.pos").alias("pos"), F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    # NOT persisted although three consumers read it (r8): the shared
    # subtree is a cheap codegen split+explode, and caching 1.2M wide rows
    # costs more than recomputing them — interleaved A/B measured 1.38 s
    # unpersisted vs 1.83 s persisted at sf0.1. Persist pays only when the
    # shared subtree is CPU-heavy relative to its materialized size (the
    # md5-per-window _windows table, the LSH bucket table); a plain
    # explode is not.
    cb = e.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = e.groupBy("w1").agg(F.count("*").alias("c1"))
    v = d.select(F.explode("ws").alias("x")).agg(F.countDistinct("x").alias("v"))
    term = F.log(
        (F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v")).cast("double")
    )
    s = (
        e.join(cb, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(v))
        .select("doc_id", "pos", term.alias("term"))
    )
    g = s.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sort_array(F.collect_list(F.struct("pos", "term"))).alias("terms"),
    )
    nll_q = F.aggregate(
        F.col("terms"),
        F.lit(0).cast("long"),
        lambda a, t: a + F.floor(-t["term"] * F.lit(float(1 << 20))).cast("long"),
    )
    return g.select("doc_id", "n_bigrams", nll_q.alias("nll_q"))


# bm25_scores' query terms; the DuckDB oracle's IN list reads them too
BM25_TERMS = ["join", "scan", "slow", "merge"]

# Okapi BM25 term-score expression (k1 = 1.2, b = 0.75), shared VERBATIM
# between the Spark plan and the DuckDB oracle so both engines evaluate the
# identical double arithmetic (Lucene/Robertson idf, k1/b saturation,
# floor(x * 2^20) quantization of each term's contribution — the
# lm_perplexity precedent for transcendental folds).
BM25_TERM_Q = (
    "floor("
    "ln(cast(1 as double) + (cast(n_docs as double) - cast(df as double) + cast(0.5 as double))"
    " / (cast(df as double) + cast(0.5 as double)))"
    " * (cast(tf as double) / (cast(tf as double) + cast(1.2 as double)"
    " * (cast(1 as double) - cast(0.75 as double) + cast(0.75 as double)"
    " * cast(dl as double) / (cast(sum_dl as double) / cast(n_docs as double)))))"
    " * cast(1048576 as double))"
)


def bm25_scores(docs: DataFrame) -> DataFrame:
    """Okapi BM25 relevance of every doc against the BM25_TERMS set — the
    classic keyword-retrieval scorer a corpus-quality pipeline uses for
    topic filtering. idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (Lucene's
    non-negative variant), saturation tf/(tf + k1*(1-b+b*dl/avgdl)).

    Scale shape: explode -> isin(terms) filter prunes to matching words
    immediately (predicate inside the generate's child), tf/df are
    map-side-combined aggregates, df (<= |terms| rows) and the 1-row
    corpus stats broadcast — the corpus shuffles once, on (doc, term).
    the score is the SQL text ``BM25_TERM_Q``, so the Spark plan and the
    DuckDB oracle evaluate byte-identical expressions; per-term scores are
    floor(x * 2^20)-quantized before the per-doc sum. Returns (doc_id,
    n_hit_terms, bm25_q) with zero rows for docs matching no term.
    """
    words = _words()
    base = docs.select(F.col("doc_id").cast("string").alias("doc_id"), words.alias("ws"))
    ex = base.select(
        "doc_id", F.size("ws").cast("long").alias("dl"), F.explode("ws").alias("w")
    ).filter(F.col("w").isin(*BM25_TERMS))
    tf = ex.groupBy("doc_id", "w").agg(
        F.count("*").alias("tf"), F.first("dl").alias("dl")
    )
    df_t = tf.groupBy("w").agg(F.count("*").alias("df"))
    dl_all = base.select("doc_id", F.size("ws").cast("long").alias("dl"))
    stats = dl_all.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    scored = (
        tf.join(F.broadcast(df_t), "w")
        .crossJoin(F.broadcast(stats))
        .withColumn("term_q", F.expr(BM25_TERM_Q).cast("long"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_hit_terms"), F.sum("term_q").alias("bm25_q")
    )
    alld = docs.select(F.col("doc_id").cast("string").alias("doc_id")).distinct()
    return (
        alld.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hit_terms", F.lit(0)).cast("long").alias("n_hit_terms"),
            F.coalesce("bm25_q", F.lit(0)).cast("long").alias("bm25_q"),
        )
    )


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher-family rule-set quality filter (the published public
    thresholds: word count in [50, 100k], mean word length in [3, 10],
    symbol-to-word ratio <= 0.1, >= 80% of words containing an alphabetic
    char, >= 2 stopwords). Pure columnar expressions — no shuffle, no
    Python; the double thresholds are SQL literals so an oracle can
    evaluate the byte-identical predicate. Returns per-rule booleans + `keep`.
    """
    words = _words()
    base = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), words.alias("ws")
    ).filter(F.size("ws") > 0)
    nw = F.size("ws").cast("long")
    sum_wlen = F.expr(
        "aggregate(transform(ws, w -> cast(length(w) as bigint)), cast(0 as bigint), (a, b) -> a + b)"
    )
    n_sym = F.expr(
        "aggregate(transform(ws, w -> cast(length(w) - length(replace(replace(replace(w, '#', ''), '!', ''), '?', '')) as bigint)), cast(0 as bigint), (a, b) -> a + b)"
    )
    n_alpha = F.size(F.filter(F.col("ws"), lambda w: w.rlike("[A-Za-z]"))).cast("long")
    n_stop = F.size(F.filter(F.col("ws"), lambda w: w.isin(*STOPWORDS))).cast("long")
    st = base.select(
        "doc_id",
        nw.alias("n_words"),
        sum_wlen.alias("sum_wlen"),
        n_sym.alias("n_sym"),
        n_alpha.alias("n_alpha"),
        n_stop.alias("n_stop"),
    )
    mean_wlen = F.col("sum_wlen").cast("double") / F.col("n_words").cast("double")
    rules = st.select(
        "doc_id",
        "n_words",
        mean_wlen.alias("mean_wlen"),
        (F.col("n_words").between(50, 100_000)).alias("ok_nwords"),
        (
            (mean_wlen >= F.expr("cast(3.0 as double)"))
            & (mean_wlen <= F.expr("cast(10.0 as double)"))
        ).alias("ok_wlen"),
        (
            F.col("n_sym").cast("double") / F.col("n_words").cast("double")
            <= F.expr("cast(0.1 as double)")
        ).alias("ok_symbols"),
        (
            F.col("n_alpha").cast("double") / F.col("n_words").cast("double")
            >= F.expr("cast(0.8 as double)")
        ).alias("ok_alpha"),
        (F.col("n_stop") >= 2).alias("ok_stopwords"),
    )
    keep = (
        F.col("ok_nwords")
        & F.col("ok_wlen")
        & F.col("ok_symbols")
        & F.col("ok_alpha")
        & F.col("ok_stopwords")
    )
    return rules.withColumn("keep", keep)


def ngram_topk(docs: DataFrame) -> DataFrame:
    """Corpus-wide most-frequent word bigrams — the vocabulary/artifact
    scan a pretraining pipeline runs to spot templated boilerplate and
    scraping junk before it trains into the model (the public data-audit
    recipe; per-doc repetition is `repetition_scores`, this is the
    CROSS-doc inventory).

    Output: (ngram, cnt, rank) for the top NGRAM_TOPK by count, ties broken
    by ngram text ascending — fully deterministic.

    Scale shape: one explode (linear in corpus words), one map-side-
    combined groupBy on the n-gram, then a global top-k which Spark
    executes as TakeOrderedAndProject (per-partition heap + driver merge
    of k rows), never a full sort of the n-gram universe.
    """
    # docs shorter than 2 words contribute nothing; the filter also keeps
    # sequence() away from a negative stop (Spark would infer step -1)
    wdocs = docs.select(_words().alias("_w")).filter(F.size("_w") >= 2)
    grams_expr = F.transform(
        F.sequence(F.lit(0), F.size(F.col("_w")) - 2),
        lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i + 1, 2)),
    )
    grams = wdocs.select(F.explode(grams_expr).alias("ngram"))
    counted = grams.groupBy("ngram").agg(F.count("*").alias("cnt"))
    top = counted.orderBy(F.col("cnt").desc(), F.col("ngram").asc()).limit(NGRAM_TOPK)
    w = Window.orderBy(F.col("cnt").desc(), F.col("ngram").asc())
    return top.select("ngram", "cnt", F.row_number().over(w).cast("long").alias("rank"))
