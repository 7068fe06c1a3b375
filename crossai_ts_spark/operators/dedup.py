"""Deduplication operators for training-data pipelines.

All hashing is expressed with engine-portable primitives (md5 hex → bigint)
so each variant has a DuckDB oracle; all heavy lifting is JVM-side
(explode/groupBy/join) — no Python in the hot path.

Scale notes (the part that matters at 10^12 docs):
  * exact:       one shuffle on the content hash; map-side combine.
  * minhash-LSH: shingles -> K minhashes (single groupBy over exploded
    shingles with K aggregates) -> bands -> bucket join. Candidate pairs
    only — never the O(n^2) cross join.
  * simhash:     64-bit signature from shingle-hash bit votes; near-dup =
    bucket join on rotated prefixes (here: exact-signature match + banding).
  * ngram-jaccard: candidate pairs from a shared-shingle equi-join,
    Jaccard = common/(|a|+|b|-common) from exact counts.
  * embedding:   cosine near-dup above threshold via block-broadcast join
    (delegates to operators/similarity.py at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# MinHash: K hashes mod a Mersenne prime, banded LSH_BAND at a time; SimHash
# signature width. The DuckDB oracles build their SQL from the same values.
MINHASH_K = 8
MINHASH_PRIME = 2147483647
LSH_BAND = 2
SIMHASH_BITS = 16
# an LSH band bucket holding more docs than this is dropped before the join
LSH_MAX_BUCKET = 1000
# ngram_jaccard_pairs: the least Jaccard kept, and the document frequency
# above which a shingle leaves the compared universe
NGRAM_JACCARD_MIN, NGRAM_MAX_DF = 0.1, 1000
# embedding_near_dups: the least cosine kept, bits per bucket id, hyperplane
# tables, the first table's seed, and the largest bucket scored
EMB_COS_MIN, EMB_BITS, EMB_TABLES, EMB_SEED, EMB_MAX_BUCKET = 0.42, 6, 3, 42, 10000
# substring dedup and decontamination window, in tokens (characters)
SUBSTR_W = 25
# segment_dedup: words per segment
SEG_WORDS = 10


# md5-hex -> bigint: same value in DuckDB via ('0x'||substr(md5(s),1,15))::BIGINT
def _h64(col):
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("long")


def shingles(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle_hash) — word 3-gram fingerprints per doc.

    distinct=True (default) dedups per doc — required by set-semantics
    consumers (Jaccard counts, simhash votes would change). MinHash-only
    consumers pass distinct=False: min over a multiset equals min over its
    set, so the signatures are identical while the pipeline skips its
    single biggest exchange (the full-shingle-table dedup shuffle)."""
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    d = docs.select(F.col("doc_id").cast("string").alias("doc_id"), words.alias("ws"))
    d = d.filter(F.size("ws") >= 3)
    sh = F.transform(
        F.sequence(F.lit(0), F.size("ws") - 3),
        lambda i: F.concat_ws("\x1f", F.slice("ws", i + 1, 3)),
    )
    out = d.select("doc_id", F.explode(sh).alias("shingle")).select(
        "doc_id", _h64(F.col("shingle")).alias("sh")
    )
    return out.distinct() if distinct else out


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: keep min doc_id per content hash."""
    h = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), F.md5(F.col("text").cast("binary")).alias("h")
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .withColumn("is_canonical", F.col("rn") == 1)
        .drop("rn")
    )


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """MINHASH_K minhashes per doc in ONE aggregation over the shingle table.

    h_i(x) = (a_i * x + b_i) mod p with fixed odd constants — portable SQL.
    """
    p = MINHASH_PRIME
    aggs = [
        F.min((F.col("sh") % p * (2 * i + 1) + (i * 40503 + 17)) % p).alias(f"mh{i}")
        for i in range(MINHASH_K)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Band the signature LSH_BAND minhashes at a time, bucket-join, emit
    candidate pairs (a < b).

    Degenerate buckets (> LSH_MAX_BUCKET docs — e.g. a corpus full of identical
    boilerplate) would emit O(bucket^2) join rows; they are dropped before
    the self-join. Such docs are near-identical and caught by exact dedup;
    the cap turns a quadratic blow-up into a bounded per-bucket cost.
    """
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_", *[F.col(f"mh{b * LSH_BAND + j}").cast("string") for j in range(LSH_BAND)]
                ).alias("key"),
            )
            for b in range(MINHASH_K // LSH_BAND)
        ]
    )
    bt = sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    # oversized-bucket set is tiny by construction (each member is a
    # bucket with > LSH_MAX_BUCKET rows), so: map-side-combined groupBy ->
    # broadcast left_anti. No sort, and the band table itself never
    # shuffles for the cap (the r2 window-count version sorted the full
    # band table and cost 1.9x on minhash_lsh).
    #
    # The band table feeds BOTH the cap aggregate (a separate broadcast
    # job) and the join probe; without a persist the whole
    # shingle->minhash upstream (two shuffles) runs twice. It is the
    # signature "model" — n_docs x n_bands narrow rows, orders of
    # magnitude smaller than the corpus — so MEMORY_AND_DISK is safe at
    # any scale (a production pipeline would write it to a table).
    # Tracked so harnesses can caching.release_tracked() after the
    # consuming action rather than pinning storage for the app lifetime.
    from ..caching import tracked_persist

    bt = tracked_persist(bt, StorageLevel.MEMORY_AND_DISK)
    big = (
        bt.groupBy("band", "key")
        .agg(F.count("*").alias("_bn"))
        .filter(F.col("_bn") > LSH_MAX_BUCKET)
        .select("band", "key")
    )
    bt = bt.join(F.broadcast(big), ["band", "key"], "left_anti")
    a = bt.alias("a")
    b = bt.alias("b")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def ngram_jaccard_pairs(sh: DataFrame) -> DataFrame:
    """Pairs with Jaccard >= NGRAM_JACCARD_MIN over the df-capped shingle
    universe.

    A shingle present in d docs emits d^2 self-join rows, so near-universal
    shingles (web boilerplate) make the naive join quadratic. Standard cap:
    drop shingles with document frequency > NGRAM_MAX_DF FIRST, then compute
    both the candidate commons AND the per-doc set sizes over the surviving
    shingles — Jaccard is exact over the capped universe, and the join cost
    is bounded by NGRAM_MAX_DF^2 per shingle.
    """
    # the shingle table (md5 per shingle + per-doc distinct — CPU-heavy
    # upstream) feeds FOUR consumers here: the df-cap aggregate, the
    # per-doc sizes, and both sides of the candidate self-join. Persist by
    # the r8 decision rule (CPU-heavy shared subtree); tracked for release.
    from ..caching import tracked_persist

    sh = tracked_persist(sh, StorageLevel.MEMORY_AND_DISK)
    # near-universal shingles (df > NGRAM_MAX_DF) are a tiny set: map-side
    # combined groupBy -> broadcast left_anti (no sort of the full shingle
    # table; its one shuffle is the self-join below)
    hot = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > NGRAM_MAX_DF)
        .select("sh")
    )
    sh = sh.join(F.broadcast(hot), ["sh"], "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, F.col("a.sh") == F.col("b.sh"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    j = (
        common.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        )
    )
    return j.filter(F.col("jaccard") >= NGRAM_JACCARD_MIN).select(
        "doc_a", "doc_b", "common", "jaccard"
    )


def simhash_signatures(sh: DataFrame) -> DataFrame:
    """SimHash: per-bit majority vote over shingle hashes.

    bit_i(doc) = 1 if sum over shingles of (2*bit_i(h)-1) > 0.
    Expressed as SIMHASH_BITS conditional sums in one groupBy — portable SQL.
    """
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("sh"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(SIMHASH_BITS)
    ]
    votes = sh.groupBy("doc_id").agg(*aggs)
    sig = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.alias("simhash"))


def embedding_near_dups(emb: DataFrame) -> DataFrame:
    """Cosine near-dup pairs, cos >= EMB_COS_MIN, of EMB_DIM-wide vectors.

    Multi-table random-hyperplane LSH — each vector hashed into EMB_TABLES
    independent EMB_BITS-bit sign-bucket tables; candidate pairs share a
    bucket in ANY table (the multi-probe analogue: a pair split by one
    hyperplane set still collides in another table). Only within-bucket
    pairs are scored, so cost is sum(bucket^2) per table, never corpus^2;
    degenerate buckets are capped at EMB_MAX_BUCKET (identical vectors —
    exact dedup's job). A pair at cosine c shares one table's bucket with
    probability p^6, p = 1 - acos(c)/pi, so 3 tables find it with
    probability 1 - (1 - p^6)^3: ~89% at c = 0.95 (p ~ 0.9), ~19% at the
    0.42 threshold itself (p ~ 0.64).
    """
    from .similarity import EMB_DIM, _cos_with_norms, _norm, lsh_bucket_col

    # norms are computed ONCE per vector row, so a pair costs one O(dim)
    # fold, not three (similarity._norm)
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"),
        _norm("embedding").alias("_na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"),
        _norm("embedding").alias("_nb"),
    )

    base = emb.select("vec_id", "embedding")
    # every table's bucket in ONE projection over ONE scan (the 4-way
    # union-of-selects form re-read the embeddings once per table),
    # exploded to the same (tbl, vec_id, bucket) rows
    tb = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                lsh_bucket_col(EMB_DIM, EMB_BITS, EMB_SEED + 1000003 * t).alias("bucket"),
            )
            for t in range(EMB_TABLES)
        ]
    )
    tabs = base.select("vec_id", F.explode(tb).alias("tb")).select(
        F.col("tb.tbl").alias("tbl"), "vec_id", F.col("tb.bucket").alias("bucket")
    )
    # the bucket table feeds the cap aggregate AND both sides of the
    # candidate self-join — without a persist the EMB_TABLES x EMB_BITS
    # hyperplane folds run three times (measured 3 x 0.48 s at sf0.1).
    # Narrow (tbl, vec_id, bucket) rows, ~10x smaller than the embeddings
    # themselves — the same signature-"model" persist as the MinHash band
    # table above; tracked so harnesses can release it after the action.
    from ..caching import tracked_persist

    tabs = tracked_persist(tabs, StorageLevel.MEMORY_AND_DISK)
    # oversized buckets are a tiny set -> broadcast left_anti (the full
    # bucket table never shuffles for the cap)
    big = (
        tabs.groupBy("tbl", "bucket")
        .agg(F.count("*").alias("_bn"))
        .filter(F.col("_bn") > EMB_MAX_BUCKET)
        .select("tbl", "bucket")
    )
    tabs = tabs.join(F.broadcast(big), ["tbl", "bucket"], "left_anti")
    ta = tabs.alias("a")
    tb = tabs.alias("b")
    cand = (
        ta.join(tb, ["tbl", "bucket"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    pairs = cand.join(a, "id_a").join(b, "id_b")
    return pairs.select("id_a", "id_b", _cos_with_norms("ea", "eb").alias("cos_sim")).filter(
        F.col("cos_sim") >= EMB_COS_MIN
    )


def _windows(docs: DataFrame) -> DataFrame:
    """(doc_id, off, h): every stride-1 SUBSTR_W-token window's 64-bit hash.
    Rows are round-robined to defaultParallelism first when the scan has
    fewer partitions — the explode multiplies ROWS by n_tok while scan
    parallelism follows BYTES (no-op at real table sizes)."""
    d = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("text").alias("t"),
        F.length("text").cast("long").alias("n_tok"),
    ).filter(F.length("text") >= SUBSTR_W)
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < par:
        d = d.repartition(par)
    return d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_tok") - SUBSTR_W)).alias("off"),
        "t",
    ).select("doc_id", "off", _h64(F.expr(f"substring(t, off + 1, {SUBSTR_W})")).alias("h"))


def contamination_scores(train: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Benchmark decontamination (the public GPT-3/PaLM-style n-gram
    overlap pass): for each training doc, the fraction of its SUBSTR_W-token
    windows that appear anywhere in the eval/benchmark set.

    Scale shape: eval window hashes are DISTINCT'd (benchmarks are tiny
    next to a training corpus) and semi-joined against the training
    windows — linear in training tokens, one map-side-combined aggregate
    per side, no pairing stage. Returns (doc_id, n_windows,
    n_contaminated, contam_frac); docs shorter than SUBSTR_W report 0 windows
    and frac 0.
    """
    # wt feeds both the contamination-hit count and the per-doc totals but
    # is NOT persisted (r8): with only two cheap consumers (a semi join
    # and a count groupBy) the interleaved A/B measured persist slightly
    # slower (1.57 s vs 1.42 s) — storing the 8M-row table costs more
    # than one recompute. duplicated_spans persists the same table because
    # three heavier consumers read it there.
    wt = _windows(train)
    eh = _windows(eval_docs).select("h").distinct()
    hits = wt.join(eh, "h", "semi").groupBy("doc_id").agg(
        F.count("*").alias("n_contaminated")
    )
    totals = wt.groupBy("doc_id").agg(F.count("*").alias("n_windows"))
    base = train.select(F.col("doc_id").cast("string").alias("doc_id")).distinct()
    return (
        base.join(totals, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
        )
        .withColumn(
            "contam_frac",
            F.when(
                F.col("n_windows") > 0,
                F.col("n_contaminated").cast("double") / F.col("n_windows").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
    )


def duplicated_spans(docs: DataFrame, keep_first: bool = False) -> DataFrame:
    """Substring-level dedup, find+merge stages (public method: Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    every SUBSTR_W-token window that occurs more than once ANYWHERE in the corpus
    is a duplicated span; per doc, overlapping/adjacent duplicated windows
    are merged into maximal half-open spans [span_start, span_end) over
    token offsets. Tokens here are the corpus' code-point tokens (one char
    = one token, the repo-wide convention).

    keep_first=False marks EVERY occurrence (the practical both-copies
    variant the public deduplicate-text-datasets tooling ships);
    keep_first=True exempts each window hash's canonical occurrence — the
    (doc_id, off)-smallest — so exactly one copy of each duplicated
    region survives removal, the paper's semantics.

    Scale shape (the distributed analogue of the paper's suffix array,
    which is single-node): stride-1 window hashing is LINEAR in corpus
    token count — one explode (no pairing, so a boilerplate window shared
    by d docs costs d rows, never d^2), one map-side-combined groupBy on
    the window hash, one semi join back (keep_first adds a min-struct
    aggregate + anti join — hot-key-flat even when one window hash has
    10^8 occurrences; no per-hash sort anywhere), one per-doc ordered
    window for the interval merge. No O(n^2) stage exists to cap.
    """
    # the window-hash table feeds BOTH the duplicate-count aggregate and the
    # semi-join probe (plus the canonical-occurrence pass under keep_first):
    # without a persist the stride-1 explode + per-window md5 — the single
    # most expensive stage, linear in corpus tokens — runs twice (three
    # times with keep_first). Same persist-the-derived-table pattern as the
    # KMV prefilter (r7): narrow (doc_id, off, h) rows, MEMORY_AND_DISK so
    # it spills rather than evicts at scale, tracked for release.
    from ..caching import tracked_persist

    wins = tracked_persist(_windows(docs), StorageLevel.MEMORY_AND_DISK)
    dup = wins.groupBy("h").agg(F.count("*").alias("_c")).filter(F.col("_c") > 1).select("h")
    dw = wins.join(dup, "h", "semi")
    if keep_first:
        # canonical occurrence = (doc_id, off)-smallest, via a min-struct
        # aggregate (lexicographic struct ordering == ORDER BY doc_id, off)
        # + anti join — NOT row_number over partitionBy(h): a boilerplate
        # window shared by 10^8 docs would sort its whole occurrence list
        # on one task, while min() stays map-side-combined and hot-key-flat
        canon = (
            dw.groupBy("h")
            .agg(F.min(F.struct("doc_id", "off")).alias("c"))
            .select("h", F.col("c.doc_id").alias("doc_id"), F.col("c.off").alias("off"))
        )
        dw = dw.join(canon, ["h", "doc_id", "off"], "left_anti")
    dw = dw.select("doc_id", "off")
    wspec = Window.partitionBy("doc_id").orderBy("off")
    prev_end = F.max(F.col("off") + SUBSTR_W).over(
        wspec.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = dw.withColumn(
        "ni", F.when(prev_end.isNull() | (F.col("off") > prev_end), 1).otherwise(0)
    ).withColumn("island", F.sum("ni").over(wspec.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("off").alias("span_start"),
            (F.max("off") + SUBSTR_W).cast("long").alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def substring_dedup_stats(docs: DataFrame, keep_first: bool = False) -> DataFrame:
    """Per-doc duplicated-span inventory: (doc_id, n_tok, n_spans,
    dup_tokens, dup_frac). Docs shorter than SUBSTR_W or with no duplicated
    window report 0 spans."""
    spans = duplicated_spans(docs, keep_first=keep_first)
    agg = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_tokens"),
    )
    base = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.length("text").cast("long").alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    return (
        base.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        )
        .withColumn("dup_frac", F.col("dup_tokens").cast("double") / F.col("n_tok").cast("double"))
    )


def apply_substring_dedup(docs: DataFrame) -> DataFrame:
    """Removal mask applied: drop the marked duplicated spans (every copy,
    :func:`duplicated_spans` without ``keep_first``) and stitch the kept
    segments back together.

    Built join-free from the span table: kept intervals are the per-doc
    complement of the merged spans (lag(span_end) .. span_start, plus the
    [last_end, n_tok) tail), each sliced from the original text and
    concatenated in offset order — all JVM-side string ops, no fold state.
    Returns (doc_id, n_tok, clean_len, clean_text).
    """
    # spans feeds the gap windows, the tail aggregate AND the has-span flag
    # below — three otherwise-recomputed runs of the whole find+merge
    # pipeline. Merged spans are a per-doc summary (orders of magnitude
    # smaller than the corpus), so the persist is cheap at any scale.
    from ..caching import tracked_persist

    spans = tracked_persist(duplicated_spans(docs), StorageLevel.MEMORY_AND_DISK)
    base = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("text").alias("t"),
        F.length("text").cast("long").alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    wspec = Window.partitionBy("doc_id").orderBy("span_start")
    gaps = spans.select(
        "doc_id",
        F.coalesce(F.lag("span_end").over(wspec), F.lit(0).cast("long")).alias("ks"),
        F.col("span_start").alias("ke"),
    )
    tails = spans.groupBy("doc_id").agg(F.max("span_end").alias("ks")).withColumn(
        "ke", F.lit(None).cast("long")
    )
    segs = gaps.unionByName(tails).join(base, "doc_id")
    segs = segs.withColumn("ke", F.coalesce("ke", "n_tok")).filter(F.col("ke") > F.col("ks"))
    seg_txt = F.expr("substring(t, ks + 1, ke - ks)")
    pieces = segs.groupBy("doc_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.sort_array(F.collect_list(F.struct(F.col("ks"), seg_txt.alias("seg")))),
                lambda s: s["seg"],
            ),
        ).alias("clean_text")
    )
    # docs fully covered by spans have no kept segment rows — their clean
    # text is "", NOT the original (only span-free docs keep t verbatim)
    spd = spans.select("doc_id").distinct().withColumn("_has", F.lit(1))
    return (
        base.join(pieces, "doc_id", "left")
        .join(spd, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            F.when(F.col("_has").isNull(), F.col("t"))
            .otherwise(F.coalesce("clean_text", F.lit("")))
            .alias("clean_text"),
        )
        .withColumn("clean_len", F.length("clean_text").cast("long"))
        .select("doc_id", "n_tok", "clean_len", "clean_text")
    )


def segment_dedup(docs: DataFrame) -> DataFrame:
    """Repeated-segment inventory — the CCNet/RefinedWeb line-level dedup
    recipe (public method: dedupe segments whose exact content recurs
    anywhere in the corpus; boilerplate headers/footers dominate). A
    segment here is SEG_WORDS consecutive space-separated words
    (non-overlapping; ragged tail kept): CCNet dedups verbatim lines, but
    this corpus is one space-separated stream, so fixed word blocks are
    the honest equivalent.

    Output per doc: (doc_id, n_segs, n_dup_segs, dup_seg_frac). A segment
    is duplicated when its exact text occurs >1 time corpus-wide (the
    segment STRING is the key — no hash function to match across engines).

    Scale shape: one explode (linear in corpus words), one map-side-
    combined groupBy on segment text, one broadcast-threshold-free join
    back, one per-doc aggregate. A boilerplate segment shared by d docs
    costs d rows — no pairing stage, the substring-dedup argument at
    segment granularity.
    """
    # F.split takes a regex: the escaped space splits on each single space
    base = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.split(F.col("text"), "\\ ").alias("_w"),
    ).filter(F.size("_w") > 0)
    n_segs_col = F.ceil(F.size("_w") / F.lit(float(SEG_WORDS))).cast("int")
    segs_col = F.transform(
        F.sequence(F.lit(0), n_segs_col - 1),
        lambda si: F.concat_ws(" ", F.slice("_w", si * SEG_WORDS + 1, SEG_WORDS)),
    )
    segs = base.select("doc_id", F.posexplode(segs_col).alias("seg_idx", "seg"))
    dup = (
        segs.groupBy("seg")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") > 1)
        .select("seg")
    )
    marked = segs.join(dup.withColumn("_dup", F.lit(1)), "seg", "left")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segs"),
            F.sum(F.coalesce("_dup", F.lit(0))).cast("long").alias("n_dup_segs"),
        )
        .withColumn(
            "dup_seg_frac",
            F.col("n_dup_segs").cast("double") / F.col("n_segs").cast("double"),
        )
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """Dedup clusters: connected components over a near-dup pair graph
    (``doc_a``, ``doc_b``) via
    min-label propagation — each node's label drops to the smallest id
    reachable (component id = min member id, so the output is a pure
    function of the edge set, independent of plan or iteration count).

    The per-round step is one shuffle join (labels onto edge endpoints) +
    one map-side-combined groupBy min (the GraphX/Pregel CC shape, O(V+E)
    per round), followed by one pointer-jumping self-join (follow my
    label's label), so a chain of length d converges in O(log d) rounds —
    not the O(d) of plain neighbor-min — while clique-ish LSH near-dup
    clusters still finish in 2-3. Each round materializes via
    localCheckpoint: it truncates the lineage (the iterated plan would
    otherwise grow unboundedly) and makes the convergence probe pay for
    each round once.

    Driver-side control is one scalar count() every second round (not
    every round): the probe compares the latest round against the one
    before it, so a zero still means "last round was a no-op = fixpoint".
    Skipping intermediate probes halves the control-plane jobs on deep
    graphs at the cost of at most one extra (no-op, bounded-shuffle) round
    after convergence. The result is unchanged — extra rounds past the
    fixpoint are identities. Measured on the 400k-node probe (1000 chains
    of 400, local[8]): probing every second round ran 2.6x faster than
    per-round probing with identical components. A graph still changing
    after 25 rounds raises ``RuntimeError``.
    """
    max_iter = 25
    # the edge pipeline (often a full LSH candidate computation) is
    # materialized ONCE; the symmetric closure is built from the cached
    # edges (the old sym.union(sym.swap) checkpoint ran the upstream twice)
    e0 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")).localCheckpoint()
    nodes = e0.select(F.col("a").alias("n")).union(e0.select(F.col("b").alias("n"))).distinct()
    # self-loops fold the own-label term into the neighbor-min aggregate:
    # min over {own} ∪ neighbors in ONE join+groupBy per round instead of a
    # neighbor-min join followed by a second label join + least()
    sym = (
        e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .union(nodes.select(F.col("n").alias("a"), F.col("n").alias("b")))
        .localCheckpoint()
    )
    # label init is a narrow read of the cached self-loops — no extra
    # distinct/checkpoint job
    lbl = sym.filter(F.col("a") == F.col("b")).select(
        F.col("a").alias("node"), F.col("a").alias("comp")
    )
    for it in range(max_iter):
        new = (
            sym.join(lbl.select(F.col("node").alias("b"), F.col("comp").alias("bcomp")), "b")
            .groupBy("a")
            .agg(F.min("bcomp").alias("comp"))
            .select(F.col("a").alias("node"), "comp")
        )
        # pointer jumping: comp <- min(comp, comp[comp]) — label paths halve
        # every round, giving O(log diameter) total rounds
        ptr = new.select(F.col("node").alias("c_node"), F.col("comp").alias("c_comp"))
        new = (
            new.join(ptr, new["comp"] == ptr["c_node"], "left")
            .select("node", F.least(F.col("comp"), F.coalesce(F.col("c_comp"), F.col("comp"))).alias("comp"))
        )
        # lazy checkpoint: still truncates lineage every round, but the
        # materialization rides the next probe's job instead of costing one
        # eager job per round (probing-only checkpoints were ALSO tried and
        # measured slower — the probe then recomputes the uncheckpointed
        # intermediate round and plans a 2x-deeper tree)
        new = new.localCheckpoint(eager=False)
        if it % 2 == 1 or it == max_iter - 1:
            changed = (
                new.join(lbl.select("node", F.col("comp").alias("old")), "node")
                .filter(F.col("comp") != F.col("old"))
                .count()
            )
            if changed == 0:
                return new
        lbl = new
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
