"""Registry backing __spark_entry__.queries() / oracle_sql().

Each entry: name -> (spark_fn(spark, sf_dir) -> DataFrame, duckdb_sql | None).
The driver compares row count + schema + order-insensitive value hash at
sf=0.01, so every query is built for CROSS-ENGINE EXACTNESS:

  * integer math wherever possible (token code points, cents via
    round(value*100) — the double product is IEEE-identical in both engines,
    so the rounded bigint is identical too; l_quantity is integral)
  * float results come only from single divisions / sqrt of exact integers,
    or from identically-ordered sequential folds (Spark ``aggregate`` and
    DuckDB ``list_reduce`` are both left folds)
  * every computed column aliased identically on both sides

Queries map 1:1 to SURVEY.md §2 operators; reference file:line cited per
entry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.multichannel import NATIVE_SR, TARGET_SR, magnitude_signal, resample_2d, sma_signal
from .functions.spectral_exact import dsp_exact_sql, mfcc_stats_sql, spectral_exact_sql
from .literals import duck_double as _dbl
from .literals import duck_doubles as _dbl_list
from .literals import spark_doubles
from .operators.cms import CMS_D, CMS_W, cms_build, cms_lookup
from .operators.dedup import (
    EMB_BITS, EMB_COS_MIN, EMB_MAX_BUCKET, EMB_SEED, EMB_TABLES, LSH_BAND, LSH_MAX_BUCKET,
    MINHASH_K, MINHASH_PRIME, NGRAM_JACCARD_MIN, NGRAM_MAX_DF, SEG_WORDS, SIMHASH_BITS, SUBSTR_W,
    apply_substring_dedup, connected_components, contamination_scores, embedding_near_dups,
    lsh_candidate_pairs, minhash_signatures, ngram_jaccard_pairs, segment_dedup, shingles,
    simhash_signatures, substring_dedup_stats,
)
from .operators.hll import (
    HLL_T2_FANOUT, KMV_K, M_REGS, WINDOW_SEC, _ALPHA, _MAX_RANK, hll_rollup, kmv_sketch,
)
from .operators.packing import PACK_SEQ_LEN, pack_sequences
from .operators.rollup import HIST_NB, HIST_VMAX, HIST_W, cascade, rollup_histogram
from .operators.salted import salted_tier_source_rollup
from .operators.similarity import (
    ANN_K, CENTROID_Q, EMB_DIM, IVF_CENT, IVF_PROBE, LSH_BITS, LSH_PROBES, LSH_SEED, OUTLIER_DIST2,
    _hyperplanes, centroid_distances, ivf_topk, lsh_topk,
)
from .operators.textstats import (
    BM25_TERM_Q, BM25_TERMS, LANG_MARKERS, NGRAM_TOPK, _words, bm25_scores, gopher_rules,
    lm_bigram_nll, ngram_topk,
)
from .sources.tokenize import tokenize_documents
from .workers import worker_kernel

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def q(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# DuckDB CTE shared by token queries: documents -> long (doc_id, off, tok)
SQL_PTS = """
WITH tok AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source, text,
         length(text)::BIGINT AS n_tok
  FROM documents WHERE length(text) > 0
), ex AS (
  SELECT doc_id, source, n_tok, text,
         unnest(range(1, n_tok + 1)) AS i
  FROM tok
), pts AS (
  SELECT doc_id, source, n_tok, (i - 1)::BIGINT AS off,
         unicode(text[i])::BIGINT AS tok
  FROM ex
)
"""

# events normalized to exact integers: minute + cents
SQL_EV = """
WITH ev AS (
  SELECT event_id, user_id, event_type,
         epoch_us(ts) AS us,
         epoch_us(ts) // 60000000 AS minute,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
"""


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parquet reads ts as TIMESTAMP_NTZ; session TZ is UTC so the cast
    # interprets the naive value exactly like DuckDB's epoch_us
    ts = F.col("ts").cast("timestamp")
    base = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(ts).alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    # exact integer FLOOR division (DuckDB's // floors; Spark's `div` and
    # double-division truncate toward zero, diverging for pre-1970 us < 0):
    # us - pmod(us, d) is the largest multiple of d <= us for any sign
    return base.withColumn(
        "minute", F.expr("(us - pmod(us, 60000000)) div 60000000").cast("long")
    ).select("event_id", "user_id", "event_type", "us", "minute", "cents")


# =====================================================================
# A. Token / rollup family (documents as tokenized sequences)
# =====================================================================


@q(
    "tokenize_stats",
    SQL_PTS
    + """
SELECT doc_id, source, n_tok,
       MIN(tok) AS t_min, MAX(tok) AS t_max, SUM(tok)::BIGINT AS t_sum,
       arg_max(tok, off) AS t_last
FROM pts GROUP BY doc_id, source, n_tok
""",
)
def tokenize_stats(spark, sf_dir):
    """Loader parity: documents -> sequences (caits/loading/_csv_read.py:11-66)."""
    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    return seqs.select(
        "doc_id",
        "source",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.expr("array_min(tokens)").cast("long").alias("t_min"),
        F.expr("array_max(tokens)").cast("long").alias("t_max"),
        F.expr("aggregate(tokens, cast(0 as bigint), (a, x) -> a + x)").alias("t_sum"),
        F.expr("element_at(tokens, -1)").cast("long").alias("t_last"),
    )


_ROLLUP_SQL = (
    SQL_PTS
    + """
SELECT doc_id, source, (off // {w}) * {w} AS window_start,
       MIN(tok) AS t_min, MAX(tok) AS t_max, SUM(tok)::BIGINT AS t_sum,
       COUNT(*)::BIGINT AS t_cnt, arg_max(tok, off) AS t_last,
       SUM(tok)::DOUBLE / COUNT(*)::DOUBLE AS t_mean
FROM pts GROUP BY doc_id, source, (off // {w}) * {w}
"""
)


def _tier_out(tiers: DataFrame) -> DataFrame:
    return tiers.select(
        "doc_id",
        "source",
        "window_start",
        F.col("t_min").cast("long").alias("t_min"),
        F.col("t_max").cast("long").alias("t_max"),
        "t_sum",
        "t_cnt",
        F.col("t_last").cast("long").alias("t_last"),
        "t_mean",
    )


@q("rollup_tier1", _ROLLUP_SQL.format(w=32))
def rollup_tier1(spark, sf_dir):
    """Tumbling rollup W=32 (caits/windowing.py:188-202 + fe/_statistical.py)."""
    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    return _tier_out(cascade(seqs, w=32, tiers=1))


@q("rollup_tier2_cascade", _ROLLUP_SQL.format(w=256))
def rollup_tier2_cascade(spark, sf_dir):
    """Tier-2 from the cascade (re-agg identity) vs direct SQL at W=256."""
    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    t = cascade(seqs, w=32, fanout=8, tiers=2)
    return _tier_out(t.filter(F.col("tier") == 2).drop("tier"))


@q(
    "rollup_source_windows",
    SQL_PTS
    + """
SELECT source, (off // 32) * 32 AS window_start,
       MIN(tok) AS t_min, MAX(tok) AS t_max, SUM(tok)::BIGINT AS t_sum,
       COUNT(*)::BIGINT AS t_cnt,
       SUM(tok)::DOUBLE / COUNT(*)::DOUBLE AS t_mean
FROM pts GROUP BY source, (off // 32) * 32
""",
)
def rollup_source_windows(spark, sf_dir):
    """Cross-doc continuous aggregate w/ salted two-phase shuffle (SURVEY §4.3.1)."""
    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    t1 = cascade(seqs, w=32, tiers=1)
    out = salted_tier_source_rollup(t1).drop("tier", "n_docs")
    return out.select(
        "source",
        "window_start",
        F.col("t_min").cast("long").alias("t_min"),
        F.col("t_max").cast("long").alias("t_max"),
        "t_sum",
        "t_cnt",
        "t_mean",
    )


@q(
    "trim_signal",
    SQL_PTS
    + """
SELECT doc_id,
       MIN(CASE WHEN tok >= 97 THEN off END) AS trim_start,
       MAX(CASE WHEN tok >= 97 THEN off END) AS trim_end,
       MAX(CASE WHEN tok >= 97 THEN off END)
         - MIN(CASE WHEN tok >= 97 THEN off END) + 1 AS trimmed_len
FROM pts GROUP BY doc_id
HAVING MIN(CASE WHEN tok >= 97 THEN off END) IS NOT NULL
""",
)
def trim_signal(spark, sf_dir):
    """Strip leading/trailing low values (caits/preprocessing.py:103-130)."""
    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    pts = seqs.select(
        "doc_id", F.posexplode("tokens").alias("off", "tok")
    ).select("doc_id", F.col("off").cast("long").alias("off"), "tok")
    g = pts.groupBy("doc_id").agg(
        F.min(F.when(F.col("tok") >= 97, F.col("off"))).alias("trim_start"),
        F.max(F.when(F.col("tok") >= 97, F.col("off"))).alias("trim_end"),
    )
    return g.filter(F.col("trim_start").isNotNull()).select(
        "doc_id",
        "trim_start",
        "trim_end",
        (F.col("trim_end") - F.col("trim_start") + 1).alias("trimmed_len"),
    )


@q(
    "chunks",
    SQL_PTS
    + """
SELECT doc_id, CAST(ceil(n_tok / 100.0) AS BIGINT) AS n_chunks,
       n_tok - (CAST(ceil(n_tok / 100.0) AS BIGINT) - 1) * 100 AS tail_len
FROM tok
""",
)
def chunks(spark, sf_dir):
    """create_chunks bounds (caits/windowing.py:188-202)."""
    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    n_chunks = F.ceil(F.col("n_tok") / 100.0).cast("long")
    return seqs.select(
        "doc_id",
        n_chunks.alias("n_chunks"),
        (F.col("n_tok").cast("long") - (n_chunks - 1) * 100).alias("tail_len"),
    )


@q(
    "sliding_windows",
    SQL_PTS
    + """
, wins AS (
  SELECT doc_id, unnest(range(0, (n_tok - 16) // 8 + 1)) * 8 AS wstart, n_tok
  FROM tok WHERE n_tok >= 16
), wagg AS (
  SELECT w.doc_id, w.wstart,
         SUM(p.tok) AS wsum, MIN(p.tok) AS wmin
  FROM wins w JOIN pts p
    ON p.doc_id = w.doc_id AND p.off >= w.wstart AND p.off < w.wstart + 16
  GROUP BY w.doc_id, w.wstart
)
SELECT doc_id, COUNT(*)::BIGINT AS n_windows,
       SUM(wsum)::BIGINT AS sum_of_sums, MIN(wmin) AS min_of_mins
FROM wagg GROUP BY doc_id
""",
)
def sliding_windows(spark, sf_dir):
    """Overlapping segmentation ws=16 step=8, full windows only
    (caits/windowing.py:52-77 sliding_window_df)."""
    seqs = tokenize_documents(load(spark, sf_dir, "documents")).filter(F.col("n_tok") >= 16)
    wins = seqs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, cast((n_tok - 16) / 8 as int)), "
                "wi -> named_struct("
                "  'wstart', cast(wi as bigint) * 8,"
                "  'wsum', aggregate(slice(tokens, wi * 8 + 1, 16), cast(0 as bigint), (a, x) -> a + x),"
                "  'wmin', cast(array_min(slice(tokens, wi * 8 + 1, 16)) as bigint)))"
            )
        ).alias("w"),
    )
    return wins.groupBy("doc_id").agg(
        F.count("*").alias("n_windows"),
        F.sum("w.wsum").alias("sum_of_sums"),
        F.min("w.wmin").alias("min_of_mins"),
    )


@q(
    "resample_zoh",
    SQL_PTS
    + """
SELECT doc_id, COUNT(*)::BIGINT AS n_samples, SUM(tok)::BIGINT AS sample_sum
FROM pts WHERE off % 4 = 0 GROUP BY doc_id
""",
)
def resample_zoh(spark, sf_dir):
    """Zero-order-hold 4x downsample (caits/core/_core_resample.py:45-54)."""
    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    return seqs.select(
        "doc_id",
        F.expr("cast(size(filter(sequence(0, n_tok - 1), o -> o % 4 = 0)) as bigint)").alias("n_samples"),
        F.expr(
            "aggregate(filter(transform(tokens, (x, i) -> named_struct('i', i, 'x', x)), s -> s.i % 4 = 0), "
            "cast(0 as bigint), (a, s) -> a + s.x)"
        ).alias("sample_sum"),
    )


@q(
    "fingerprint",
    SQL_PTS
    + """
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(range(1, length(any_value(text)) + 1),
                          i -> unicode(any_value(text)[i])::BIGINT)),
         (a, b) -> (a * 31 + b) % 1000000007) AS fp
FROM tok GROUP BY doc_id
""",
)
def fingerprint(spark, sf_dir):
    """Rolling polynomial document fingerprint (training-data pipeline op)."""
    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    return seqs.select(
        "doc_id",
        F.expr(
            "aggregate(tokens, cast(0 as bigint), (a, x) -> pmod(a * 31 + x, 1000000007))"
        ).alias("fp"),
    )


@q(
    "token_quality",
    """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       length(text)::BIGINT AS n_chars,
       len(list_filter(string_split(text, ' '), w -> w != ''))::BIGINT AS n_words,
       length(text)::DOUBLE
         / len(list_filter(string_split(text, ' '), w -> w != ''))::DOUBLE AS chars_per_word,
       len(list_filter(string_split(text, ' '), w -> w IN ('the','and','of','to','a','in','is')))::BIGINT
         AS n_stopwords
FROM documents WHERE length(text) > 0
""",
)
def token_quality(spark, sf_dir):
    """Text quality scoring: counts + ratios (training-data pipeline op)."""
    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    stop = F.filter(words, lambda w: w.isin("the", "and", "of", "to", "a", "in", "is"))
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.length("text").cast("long").alias("n_chars"),
        F.size(words).cast("long").alias("n_words"),
        (F.length("text").cast("double") / F.size(words).cast("double")).alias("chars_per_word"),
        F.size(stop).cast("long").alias("n_stopwords"),
    )


@q(
    "dedup_exact",
    """
WITH h AS (
  SELECT md5(text) AS h, COUNT(*)::BIGINT AS n
  FROM documents GROUP BY md5(text)
)
SELECT COUNT(*)::BIGINT AS n_distinct_texts,
       SUM(n)::BIGINT AS n_docs,
       SUM(CASE WHEN n > 1 THEN n ELSE 0 END)::BIGINT AS n_dup_docs
FROM h
""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup via content hash groupBy (training-data pipeline op)."""
    docs = load(spark, sf_dir, "documents")
    h = docs.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.count("*").alias("n")
    )
    return h.agg(
        F.count("*").alias("n_distinct_texts"),
        F.sum("n").alias("n_docs"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(F.lit(0))).alias("n_dup_docs"),
    )


# =====================================================================
# B. Events family (gap-fill, islands, sessions, rolling)
# =====================================================================


@q(
    "gapfill_locf",
    SQL_EV
    + """
, obs AS (
  SELECT user_id, minute, MAX(cents) AS cents FROM ev GROUP BY user_id, minute
), bounds AS (
  SELECT user_id, MIN(minute) AS mn, MAX(minute) AS mx FROM obs GROUP BY user_id
), spine AS (
  SELECT user_id, unnest(range(mn, mx + 1)) AS minute FROM bounds
), joined AS (
  SELECT s.user_id, s.minute, o.cents FROM spine s
  LEFT JOIN obs o ON o.user_id = s.user_id AND o.minute = s.minute
), filled AS (
  SELECT user_id, minute,
         last_value(cents IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY minute
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
  FROM joined
)
SELECT user_id, COUNT(*)::BIGINT AS n_points,
       SUM(CASE WHEN filled IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
       SUM(COALESCE(filled, 0))::BIGINT AS chk
FROM filled GROUP BY user_id
""",
)
def gapfill_locf(spark, sf_dir):
    """LOCF gap-fill on a per-user minute grid (caits zero-order-hold),
    via the join-free run-emission operator; per-user exact checksums.
    The spine starts at each user's first observation, so n_null is 0 by
    construction (kept for schema parity with the spine-based oracle)."""
    from .operators.gapfill import gapfill_runs

    ev = _ev(spark, sf_dir)
    obs = (
        ev.groupBy("user_id", "minute")
        .agg(F.max("cents").alias("value"))
        .select(F.col("user_id").cast("string").alias("doc_id"), F.col("minute").alias("offset"), "value")
    )
    filled = gapfill_runs(obs)
    return filled.groupBy(F.col("doc_id").cast("long").alias("user_id")).agg(
        F.count("*").alias("n_points"),
        F.sum(F.when(F.col("filled").isNull(), 1).otherwise(0)).cast("long").alias("n_null"),
        F.sum(F.col("filled").cast("long")).cast("long").alias("chk"),
    )


@q(
    "gapfill_linear",
    SQL_EV
    + """
, obs AS (
  SELECT user_id, minute, MAX(cents) AS cents FROM ev GROUP BY user_id, minute
), bounds AS (
  SELECT user_id, MIN(minute) AS mn, MAX(minute) AS mx FROM obs GROUP BY user_id
), spine AS (
  SELECT user_id, unnest(range(mn, mx + 1)) AS minute FROM bounds
), joined AS (
  SELECT s.user_id, s.minute, o.cents::DOUBLE AS v FROM spine s
  LEFT JOIN obs o ON o.user_id = s.user_id AND o.minute = s.minute
), anch AS (
  SELECT user_id, minute, v,
         last_value(v IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY minute
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN minute END IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY minute
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS po,
         first_value(v IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY minute
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN minute END IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY minute
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxo
  FROM joined
)
, lin AS (
  SELECT user_id, minute,
         CASE WHEN v IS NOT NULL THEN v
              WHEN pv IS NULL THEN nv
              WHEN nv IS NULL THEN pv
              ELSE pv + (nv - pv) / (nxo::DOUBLE - po::DOUBLE)
                        * (minute::DOUBLE - po::DOUBLE)
         END AS filled
  FROM anch
)
SELECT user_id, COUNT(*)::BIGINT AS n_points,
       SUM(CAST(floor(filled * 1024.0) AS BIGINT))::BIGINT AS chk
FROM lin GROUP BY user_id
""",
)
def gapfill_linear(spark, sf_dir):
    """Linear-interp gap-fill (np.interp semantics, caits/preprocessing.py:55)
    via the join-free run-emission operator. Per-user exact checksum:
    floor(filled*1024) is an identical integer in both engines because every
    `filled` double is produced by the same IEEE expression."""
    from .operators.gapfill import gapfill_linear_checksum

    ev = _ev(spark, sf_dir)
    obs = (
        ev.groupBy("user_id", "minute")
        .agg(F.max("cents").alias("value"))
        .select(F.col("user_id").cast("string").alias("doc_id"), F.col("minute").alias("offset"), "value")
    )
    # r8: the checksum aggregate runs through the vectorized run-expansion
    # kernel — bitwise-equal to floor-checksums of the numpy oracle
    # (tested) — without generating the 63M-point dense grid through
    # explode + per-point hash-aggregate probes
    out = gapfill_linear_checksum(obs)
    return out.select(
        F.col("doc_id").cast("long").alias("user_id"), "n_points", "chk"
    )


SQL_SEQ = SQL_EV + """
, seqd AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS seq
  FROM ev
)
"""


@q(
    "islands",
    SQL_SEQ
    + """
, hot AS (
  SELECT *, seq - row_number() OVER (PARTITION BY user_id ORDER BY seq) AS grp
  FROM seqd WHERE cents > 15000
)
SELECT user_id, MIN(seq)::BIGINT AS island_start, COUNT(*)::BIGINT AS n_events,
       SUM(cents)::BIGINT AS island_sum
FROM hot GROUP BY user_id, grp
""",
)
def islands(spark, sf_dir):
    """Gaps-and-islands runs of value>150 (caits get_continuous_events,
    performance/detection.py:70-95)."""
    ev = _ev(spark, sf_dir)
    wseq = Window.partitionBy("user_id").orderBy("us", "event_id")
    seqd = ev.withColumn("seq", F.row_number().over(wseq))
    hot = seqd.filter(F.col("cents") > 15000)
    wgrp = Window.partitionBy("user_id").orderBy("seq")
    hot = hot.withColumn("grp", F.col("seq") - F.row_number().over(wgrp))
    return hot.groupBy("user_id", "grp").agg(
        F.min("seq").cast("long").alias("island_start"),
        F.count("*").alias("n_events"),
        F.sum("cents").alias("island_sum"),
    ).drop("grp")


@q(
    "islands_duration",
    SQL_SEQ
    + """
, hot AS (
  SELECT *, seq - row_number() OVER (PARTITION BY user_id ORDER BY seq) AS grp
  FROM seqd WHERE cents > 15000
), isl AS (
  SELECT user_id, MIN(seq)::BIGINT AS island_start, COUNT(*)::BIGINT AS n_events
  FROM hot GROUP BY user_id, grp
)
SELECT user_id, island_start, n_events FROM isl WHERE n_events >= 2
""",
)
def islands_duration(spark, sf_dir):
    """Duration threshold on islands (caits apply_duration_threshold,
    performance/detection.py:28-67)."""
    return (
        islands(spark, sf_dir)
        .filter(F.col("n_events") >= 2)
        .select("user_id", "island_start", "n_events")
    )


def _type_islands_sql(et: str, alias: str) -> str:
    """Islands among one event type: gap > 6 h starts a new interval."""
    return f"""
{alias}_e AS (
  SELECT user_id, us,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                   > 21600000000 OR
                   lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM ev WHERE event_type = '{et}'
), {alias}_g AS (
  SELECT user_id, us,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM {alias}_e
), {alias} AS (
  SELECT user_id, MIN(us) AS s, MAX(us) AS e
  FROM {alias}_g GROUP BY user_id, grp
)"""


def _type_islands_all(ev: DataFrame, types: list[str]) -> DataFrame:
    """Gap>6h islands for EVERY listed event type in ONE window pipeline.

    Identical rows to running the per-type pipeline separately: the window
    partitions by (user_id, event_type), so each type's ordering, breaks
    and groups are untouched by the other types sharing the pass
    (oracle-hash-verified on interval_iou / detection_metrics /
    event_classification). Persisted (tracked): both the pred and gt
    branches read it, and the island table is an orders-of-magnitude
    reduction of the events scan."""
    e = ev.filter(F.col("event_type").isin(*types))
    w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    e = e.withColumn(
        "brk",
        F.when(
            (F.col("us") - F.lag("us").over(w) > 21600000000)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    wg = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    e = e.withColumn("grp", F.sum("brk").over(wg))
    out = e.groupBy("user_id", "event_type", "grp").agg(
        F.min("us").alias("s"), F.max("us").alias("e")
    )
    from .caching import tracked_persist

    return tracked_persist(out)



@q(
    "interval_iou",
    SQL_EV
    + ","
    + _type_islands_sql("click", "pred")
    + ","
    + _type_islands_sql("error", "gt")
    + """
, pairs AS (
  SELECT p.user_id, p.s AS p_start, g.s AS g_start,
         (least(p.e, g.e) - greatest(p.s, g.s))::DOUBLE
           / (greatest(p.e, g.e) - least(p.s, g.s))::DOUBLE AS iou
  FROM pred p JOIN gt g
    ON p.user_id = g.user_id AND p.s <= g.e AND g.s <= p.e
       AND greatest(p.e, g.e) > least(p.s, g.s)
), best AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, p_start
                               ORDER BY iou DESC, g_start) AS rk
  FROM pairs
)
SELECT user_id, p_start, g_start, iou FROM best WHERE rk = 1
""",
)
def interval_iou(spark, sf_dir):
    """Max-IoU interval matching of predicted vs ground-truth event runs
    (caits classify_events, performance/detection.py:98-156; IoU
    metrics.py:69-101). Range join + top-1 per pred. r8: both island
    families come from one shared window pass (_type_islands_all)."""
    ev = _ev(spark, sf_dir)
    isl = _type_islands_all(ev, ["click", "error"])
    pred = isl.filter(F.col("event_type") == "click").select("user_id", "s", "e").alias("p")
    gt = isl.filter(F.col("event_type") == "error").select("user_id", "s", "e").alias("g")
    pairs = pred.join(
        gt,
        (F.col("p.user_id") == F.col("g.user_id"))
        & (F.col("p.s") <= F.col("g.e"))
        & (F.col("g.s") <= F.col("p.e"))
        & (F.greatest(F.col("p.e"), F.col("g.e")) > F.least(F.col("p.s"), F.col("g.s"))),
    ).select(
        F.col("p.user_id").alias("user_id"),
        F.col("p.s").alias("p_start"),
        F.col("g.s").alias("g_start"),
        (
            (F.least(F.col("p.e"), F.col("g.e")) - F.greatest(F.col("p.s"), F.col("g.s"))).cast("double")
            / (F.greatest(F.col("p.e"), F.col("g.e")) - F.least(F.col("p.s"), F.col("g.s"))).cast("double")
        ).alias("iou"),
    )
    wb = Window.partitionBy("user_id", "p_start").orderBy(F.desc("iou"), "g_start")
    return pairs.withColumn("rk", F.row_number().over(wb)).filter(F.col("rk") == 1).drop("rk")


@q(
    "sessionization",
    SQL_SEQ
    + """
, flag AS (
  SELECT user_id, seq,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY seq)
                   > 1800000000 OR
                   lag(us) OVER (PARTITION BY user_id ORDER BY seq) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM seqd
), sess AS (
  SELECT user_id,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY seq
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flag
), per AS (
  SELECT user_id, sid, COUNT(*)::BIGINT AS n FROM sess GROUP BY user_id, sid
)
SELECT user_id, COUNT(*)::BIGINT AS n_sessions,
       SUM(n)::BIGINT AS n_events,
       SUM(n)::DOUBLE / COUNT(*)::DOUBLE AS events_per_session
FROM per GROUP BY user_id
""",
)
def sessionization(spark, sf_dir):
    """Sessionization: 30-min inactivity gap (gaps-and-islands in time)."""
    ev = _ev(spark, sf_dir)
    wseq = Window.partitionBy("user_id").orderBy("us", "event_id")
    seqd = ev.withColumn("seq", F.row_number().over(wseq))
    w = Window.partitionBy("user_id").orderBy("seq")
    flag = seqd.withColumn(
        "brk",
        F.when(
            (F.col("us") - F.lag("us").over(w) > 1800000000) | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    wg = Window.partitionBy("user_id").orderBy("seq").rowsBetween(Window.unboundedPreceding, 0)
    sess = flag.withColumn("sid", F.sum("brk").over(wg))
    per = sess.groupBy("user_id", "sid").agg(F.count("*").alias("n"))
    return per.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n").alias("n_events"),
        (F.sum("n").cast("double") / F.count("*").cast("double")).alias("events_per_session"),
    )


@q(
    "rolling_rms",
    SQL_SEQ
    + """
SELECT user_id, event_id,
       sqrt((SUM(cents * cents) OVER
              (PARTITION BY user_id ORDER BY seq
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))::DOUBLE
            / (COUNT(*) OVER
              (PARTITION BY user_id ORDER BY seq
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))::DOUBLE) AS rms_cents
FROM seqd
""",
)
def rolling_rms(spark, sf_dir):
    """Rolling RMS, frame=4 right-aligned (caits rolling_rms,
    properties.py:111-172; rms_value fe/_statistical.py:237-249)."""
    ev = _ev(spark, sf_dir)
    wseq = Window.partitionBy("user_id").orderBy("us", "event_id")
    seqd = ev.withColumn("seq", F.row_number().over(wseq))
    wf = Window.partitionBy("user_id").orderBy("seq").rowsBetween(-3, 0)
    return seqd.select(
        "user_id",
        "event_id",
        F.sqrt(
            F.sum(F.col("cents") * F.col("cents")).over(wf).cast("double")
            / F.count("*").over(wf).cast("double")
        ).alias("rms_cents"),
    )


@q(
    "zcr_user",
    SQL_SEQ
    + """
, l AS (
  SELECT user_id, cents - 15000 AS c,
         lag(cents - 15000) OVER (PARTITION BY user_id ORDER BY seq) AS pc
  FROM seqd
)
SELECT user_id,
       SUM(CASE WHEN c * pc < 0 THEN 1 ELSE 0 END)::BIGINT AS n_crossings,
       COUNT(*)::BIGINT AS n,
       CASE WHEN COUNT(*) > 1 THEN
         SUM(CASE WHEN c * pc < 0 THEN 1 ELSE 0 END)::DOUBLE
           / (COUNT(*) - 1)::DOUBLE
       END AS zcr
FROM l GROUP BY user_id
""",
)
def zcr_user(spark, sf_dir):
    """Zero-crossing rate around the 150.00 level (caits zcr_value,
    fe/_statistical.py:324-342)."""
    ev = _ev(spark, sf_dir)
    wseq = Window.partitionBy("user_id").orderBy("us", "event_id")
    seqd = ev.withColumn("seq", F.row_number().over(wseq))
    w = Window.partitionBy("user_id").orderBy("seq")
    l = seqd.select(
        "user_id",
        (F.col("cents") - 15000).alias("c"),
        F.lag(F.col("cents") - 15000).over(w).alias("pc"),
    )
    cross = F.sum(F.when(F.col("c") * F.col("pc") < 0, 1).otherwise(0))
    return l.groupBy("user_id").agg(
        cross.cast("long").alias("n_crossings"),
        F.count("*").alias("n"),
        F.when(
            F.count("*") > 1, cross.cast("double") / (F.count("*") - 1).cast("double")
        ).alias("zcr"),
    )


@q(
    "dominant_minute",
    SQL_EV
    + """
, per AS (
  SELECT user_id, minute, SUM(cents)::BIGINT AS total FROM ev GROUP BY user_id, minute
), rk AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY total DESC, minute) AS r
  FROM per
)
SELECT user_id, minute AS peak_minute, total AS peak_total FROM rk WHERE r = 1
""",
)
def dominant_minute(spark, sf_dir):
    """argmax analog (caits dominant_frequency / compute_class,
    fe/_statistical.py:542-571) with deterministic tie-break."""
    ev = _ev(spark, sf_dir)
    per = ev.groupBy("user_id", "minute").agg(F.sum("cents").alias("total"))
    w = Window.partitionBy("user_id").orderBy(F.desc("total"), "minute")
    return (
        per.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("user_id", F.col("minute").alias("peak_minute"), F.col("total").alias("peak_total"))
    )


# =====================================================================
# C. Lineitem family (statistical aggregates, outliers, Q1)
# =====================================================================

# exact integer views of lineitem: quantity integral; prices in cents
SQL_LI = """
WITH li AS (
  SELECT l_orderkey, l_partkey, l_returnflag, l_linestatus, l_shipdate,
         CAST(l_quantity AS BIGINT) AS q,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p_c,
         CAST(round(l_discount * 100) AS BIGINT) AS d_c,
         CAST(round(l_tax * 100) AS BIGINT) AS t_c
  FROM lineitem
)
"""


def _li(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_partkey",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p_c"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d_c"),
        F.round(F.col("l_tax") * 100).cast("long").alias("t_c"),
    )


@q(
    "tpch_q5_exact",
    """
WITH li AS (
  SELECT l_suppkey,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p_c,
         CAST(round(l_discount * 100) AS BIGINT) AS d_c
  FROM lineitem
)
SELECT n.n_name,
       SUM(l.p_c * (100 - l.d_c))::BIGINT AS revenue_cents2,
       COUNT(*)::BIGINT AS n_items
FROM li l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN region r   ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
ORDER BY revenue_cents2 DESC, n_name ASC
""",
)
def tpch_q5_exact(spark, sf_dir):
    """TPC-H Q5 shape (local-supplier revenue by nation): the fact table
    joins a CHAIN of small dims — supplier -> nation -> region — every one
    broadcast, so the only shuffle is the final per-nation aggregate
    (map-side combined). Exact cents-integer revenue; deterministic
    ordering."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p_c"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d_c"),
    )
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    dims = (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select("s_suppkey", "n_name")
    )
    return (
        li.join(F.broadcast(dims), li["l_suppkey"] == dims["s_suppkey"])
        .groupBy("n_name")
        .agg(
            F.sum(F.col("p_c") * (100 - F.col("d_c"))).alias("revenue_cents2"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue_cents2"), F.asc("n_name"))
    )


@q(
    "stats_composite",
    SQL_LI
    + """
, s AS (
  SELECT l_returnflag, COUNT(*)::BIGINT AS n,
         MIN(q) AS mn, MAX(q) AS mx, SUM(q)::BIGINT AS s1,
         SUM(q * q) AS s2, SUM(q * q * q) AS s3, SUM(q * q * q * q) AS s4
  FROM li GROUP BY l_returnflag
)
SELECT l_returnflag, n, mn, mx, s1,
       s1::DOUBLE / n::DOUBLE AS mean,
       sqrt(s2::DOUBLE / n::DOUBLE) AS rms,
       s2::BIGINT AS energy,
       s2::DOUBLE / n::DOUBLE AS avg_power,
       mx::DOUBLE / sqrt(s2::DOUBLE / n::DOUBLE) AS crest_factor
FROM s
""",
)
def stats_composite(spark, sf_dir):
    """signal_stats composite via exact integer power sums (caits
    fe/_statistical.py:597-645: mean :49, rms :237, energy :424,
    average_power :441, crest_factor :458). One groupBy, Catalyst CSE."""
    li = _li(spark, sf_dir)
    qc = F.col("q")
    g = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.min(qc).alias("mn"),
        F.max(qc).alias("mx"),
        F.sum(qc).alias("s1"),
        F.sum(qc * qc).alias("s2"),
        F.sum(qc * qc * qc).alias("s3"),
        F.sum(qc * qc * qc * qc).alias("s4"),
    )
    n = F.col("n").cast("double")
    return g.select(
        "l_returnflag",
        "n",
        "mn",
        "mx",
        "s1",
        (F.col("s1").cast("double") / n).alias("mean"),
        F.sqrt(F.col("s2").cast("double") / n).alias("rms"),
        F.col("s2").alias("energy"),
        (F.col("s2").cast("double") / n).alias("avg_power"),
        (F.col("mx").cast("double") / F.sqrt(F.col("s2").cast("double") / n)).alias("crest_factor"),
    )


@q(
    "moments",
    SQL_LI
    + """
, s AS (
  SELECT l_returnflag, COUNT(*)::BIGINT AS n, SUM(q) AS s1, SUM(q*q) AS s2,
         SUM(q*q*q) AS s3, SUM(q*q*q*q) AS s4
  FROM li GROUP BY l_returnflag
), m AS (
  SELECT l_returnflag, n,
         s1::DOUBLE / n::DOUBLE AS m1,
         s2::DOUBLE / n::DOUBLE AS m2r,
         s3::DOUBLE / n::DOUBLE AS m3r,
         s4::DOUBLE / n::DOUBLE AS m4r
  FROM s
)
SELECT l_returnflag, n, m1,
       m2r - m1 * m1 AS m2,
       m3r - 3.0 * m1 * m2r + 2.0 * m1 * m1 * m1 AS m3,
       m4r - 4.0 * m1 * m3r + 6.0 * m1 * m1 * m2r - 3.0 * m1 * m1 * m1 * m1 AS m4
FROM m
""",
)
def moments(spark, sf_dir):
    """Central moments m1..m4 from raw power sums (caits central_moments,
    fe/_statistical.py:189-233) — identical float expression both engines."""
    li = _li(spark, sf_dir)
    qc = F.col("q")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(qc).alias("s1"),
        F.sum(qc * qc).alias("s2"),
        F.sum(qc * qc * qc).alias("s3"),
        F.sum(qc * qc * qc * qc).alias("s4"),
    )
    n = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / n
    m2r = F.col("s2").cast("double") / n
    m3r = F.col("s3").cast("double") / n
    m4r = F.col("s4").cast("double") / n
    return s.select(
        "l_returnflag",
        "n",
        m1.alias("m1"),
        (m2r - m1 * m1).alias("m2"),
        (m3r - F.lit(3.0) * m1 * m2r + F.lit(2.0) * m1 * m1 * m1).alias("m3"),
        (
            m4r
            - F.lit(4.0) * m1 * m3r
            + F.lit(6.0) * m1 * m1 * m2r
            - F.lit(3.0) * m1 * m1 * m1 * m1
        ).alias("m4"),
    )


@q(
    "outlier_zscore",
    SQL_LI
    + """
, s AS (
  SELECT l_returnflag, COUNT(*)::BIGINT AS n, SUM(q) AS s1, SUM(q*q) AS s2
  FROM li GROUP BY l_returnflag
), st AS (
  SELECT l_returnflag,
         s1::DOUBLE / n::DOUBLE AS mu,
         sqrt(s2::DOUBLE / n::DOUBLE - (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE)) AS sigma
  FROM s
)
SELECT li.l_returnflag, COUNT(*)::BIGINT AS n_kept, SUM(q)::BIGINT AS kept_sum
FROM li JOIN st ON li.l_returnflag = st.l_returnflag
WHERE abs(q::DOUBLE - mu) <= 2.0 * sigma
GROUP BY li.l_returnflag
""",
)
def outlier_zscore(spark, sf_dir):
    """Z-score outlier filter per class (caits filter_outliers,
    eda/outliers_removal.py:8-26): grouped stats broadcast-joined back."""
    li = _li(spark, sf_dir)
    qc = F.col("q")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), F.sum(qc).alias("s1"), F.sum(qc * qc).alias("s2")
    )
    n = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / n
    sigma = F.sqrt(F.col("s2").cast("double") / n - mu * mu)
    st = s.select("l_returnflag", mu.alias("mu"), sigma.alias("sigma"))
    j = li.join(F.broadcast(st), "l_returnflag")
    return (
        j.filter(F.abs(F.col("q").cast("double") - F.col("mu")) <= 2.0 * F.col("sigma"))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_kept"), F.sum("q").alias("kept_sum"))
    )


@q(
    "outlier_iqr",
    SQL_LI
    + """
, s AS (
  SELECT l_returnflag,
         quantile_cont(q, 0.25) AS q1, quantile_cont(q, 0.75) AS q3
  FROM li GROUP BY l_returnflag
)
SELECT li.l_returnflag, COUNT(*)::BIGINT AS n_kept, SUM(q)::BIGINT AS kept_sum
FROM li JOIN s ON li.l_returnflag = s.l_returnflag
WHERE q::DOUBLE >= q1 - 1.5 * (q3 - q1) AND q::DOUBLE <= q3 + 1.5 * (q3 - q1)
GROUP BY li.l_returnflag
""",
)
def outlier_iqr(spark, sf_dir):
    """IQR outlier filter (caits filter_outliers IQR branch,
    eda/outliers_removal.py:29-55); exact `percentile` (linear interp, same
    definition as DuckDB quantile_cont)."""
    li = _li(spark, sf_dir)
    s = li.groupBy("l_returnflag").agg(
        F.expr("percentile(q, 0.25)").alias("q1"),
        F.expr("percentile(q, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    j = li.join(F.broadcast(s), "l_returnflag")
    return (
        j.filter(
            (F.col("q").cast("double") >= F.col("q1") - 1.5 * iqr)
            & (F.col("q").cast("double") <= F.col("q3") + 1.5 * iqr)
        )
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_kept"), F.sum("q").alias("kept_sum"))
    )


@q(
    "correlation",
    SQL_LI
    + """
, s AS (
  SELECT l_returnflag, COUNT(*)::BIGINT AS n,
         SUM(q) AS sx, SUM(q*q) AS sxx,
         SUM(d_c) AS sy, SUM(d_c*d_c) AS syy, SUM(q*d_c) AS sxy
  FROM li GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       (n*sxy - sx*sy)::DOUBLE
         / (sqrt((n*sxx - sx*sx)::DOUBLE) * sqrt((n*syy - sy*sy)::DOUBLE)) AS corr_q_disc
FROM s
""",
)
def correlation(spark, sf_dir):
    """Pearson correlation from exact integer sums (caits corr,
    eda/correlation.py:35-65) — avoids engine-specific corr() kernels."""
    li = _li(spark, sf_dir)
    x, y = F.col("q"), F.col("d_c")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ["n", "sx", "sxx", "sy", "syy", "sxy"])
    corr = (n * sxy - sx * sy).cast("double") / (
        F.sqrt((n * sxx - sx * sx).cast("double")) * F.sqrt((n * syy - sy * sy).cast("double"))
    )
    return s.select("l_returnflag", "n", corr.alias("corr_q_disc"))


@q(
    "tpch_q1_exact",
    SQL_LI
    + """
SELECT l_returnflag, l_linestatus,
       SUM(q)::BIGINT AS sum_qty,
       SUM(p_c)::BIGINT AS sum_base_cents,
       SUM(p_c * (100 - d_c))::BIGINT AS sum_disc_cents2,
       SUM(p_c * (100 - d_c) * (100 + t_c))::BIGINT AS sum_charge_cents3,
       SUM(q)::DOUBLE / COUNT(*)::DOUBLE AS avg_qty,
       COUNT(*)::BIGINT AS count_order
FROM li
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def tpch_q1_exact(spark, sf_dir):
    """TPC-H Q1 in exact cents-integer arithmetic (headline relational agg)."""
    li = _li(spark, sf_dir).filter(
        F.col("l_shipdate").cast("timestamp") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("q").alias("sum_qty"),
        F.sum("p_c").alias("sum_base_cents"),
        F.sum(F.col("p_c") * (100 - F.col("d_c"))).alias("sum_disc_cents2"),
        F.sum(F.col("p_c") * (100 - F.col("d_c")) * (100 + F.col("t_c"))).alias("sum_charge_cents3"),
        (F.sum("q").cast("double") / F.count("*").cast("double")).alias("avg_qty"),
        F.count("*").alias("count_order"),
    )


@q(
    "tpch_q3_exact",
    SQL_LI
    + """
, rev AS (
  SELECT l.l_orderkey,
         epoch_us(o.o_orderdate) AS o_date_us,
         o.o_orderpriority,
         SUM(l.p_c * (100 - l.d_c))::BIGINT AS revenue_cents2
  FROM li l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    AND l.l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2, 3
)
SELECT l_orderkey, o_date_us, o_orderpriority, revenue_cents2
FROM rev
ORDER BY revenue_cents2 DESC, l_orderkey ASC
LIMIT 10
""",
)
def tpch_q3_exact(spark, sf_dir):
    """TPC-H Q3 shape (shipping-priority top-k) in exact cents integers:
    lineitem joins orders on the shuffle key, the filtered BUILDING
    customer dim joins by BROADCAST (the small-dim plan a 100 TB fact
    table needs), revenue = sum(p_c * (100 - d_c)) exact, deterministic
    top-10 via (revenue desc, orderkey) tie-break."""
    li = _li(spark, sf_dir).filter(
        F.col("l_shipdate").cast("timestamp") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("timestamp") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    epoch = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {c})"
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == F.col("c_custkey"))
    )
    return (
        j.groupBy(
            "l_orderkey",
            F.expr(epoch.format(c="o_orderdate")).alias("o_date_us"),
            "o_orderpriority",
        )
        .agg(F.sum(F.col("p_c") * (100 - F.col("d_c"))).alias("revenue_cents2"))
        .orderBy(F.desc("revenue_cents2"), F.asc("l_orderkey"))
        .limit(10)
    )


@q(
    "topk_per_group",
    """
WITH rk AS (
  SELECT o_custkey, o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS total_c,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY round(o_totalprice * 100) DESC, o_orderkey) AS r
  FROM orders
)
SELECT o_custkey, r AS rank, o_orderkey, total_c FROM rk WHERE r <= 2
""",
)
def topk_per_group(spark, sf_dir):
    """Top-K per group w/ deterministic tie-break (best-match pattern,
    caits performance/detection.py:137-144)."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("total_c")
    )
    w = Window.partitionBy("o_custkey").orderBy(F.desc("total_c"), "o_orderkey")
    return (
        o.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 2)
        .select("o_custkey", F.col("r").cast("long").alias("rank"), "o_orderkey", "total_c")
    )


@q(
    "anti_join_split",
    """
SELECT c.c_custkey, c.c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def anti_join_split(spark, sf_dir):
    """left_anti complement (caits np.setdiff1d in train_test_split,
    dataset/_dataset/_array.py:304) — broadcast anti-join."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_mktsegment")


@q(
    "union_distinct",
    """
SELECT COUNT(*)::BIGINT AS n FROM (
  SELECT o_custkey FROM orders WHERE o_totalprice > 100000
  UNION
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
""",
)
def union_distinct(spark, sf_dir):
    """union + distinct (caits concat/__add__, dataset/_convert.py:43)."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return a.union(b).distinct().agg(F.count("*").alias("n"))


# =====================================================================
# D. Embeddings (similarity search)
# =====================================================================

SQL_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(1, len({a}) + 1), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), "
    "(x, y) -> x + y)"
)


@q(
    "embedding_norms",
    f"""
SELECT vec_id, label,
       sqrt({SQL_DOT.format(a='embedding', b='embedding')}) AS l2_norm
FROM embeddings
""",
)
def embedding_norms(spark, sf_dir):
    """L2 norms via sequential fold (identical order both engines)."""
    e = load(spark, sf_dir, "embeddings")
    dot = (
        "aggregate(zip_with(embedding, embedding, "
        "(x, y) -> cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (a, v) -> a + v)"
    )
    return e.select("vec_id", F.col("label").cast("int").alias("label"), F.sqrt(F.expr(dot)).alias("l2_norm"))


@q(
    "ann_cosine_topk",
    f"""
WITH qv AS (
  SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 10
), pairs AS (
  SELECT q.q_id, e.vec_id,
         {SQL_DOT.format(a='q.qe', b='e.embedding')}
           / (sqrt({SQL_DOT.format(a='q.qe', b='q.qe')})
              * sqrt({SQL_DOT.format(a='e.embedding', b='e.embedding')})) AS cos_sim
  FROM qv q, embeddings e WHERE e.vec_id != q.q_id
), rk AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS r
  FROM pairs
)
SELECT q_id, r AS rank, vec_id, cos_sim FROM rk WHERE r <= 5
""",
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (similarity-search baseline): broadcast the
    query set, JVM-side fold for the dot product, row_number top-k."""
    e = load(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    dot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )
    pairs = F.broadcast(qv).crossJoin(e).filter(F.col("vec_id") != F.col("q_id"))
    pairs = pairs.select(
        "q_id",
        "vec_id",
        (
            F.expr(dot.format(a="qe", b="embedding"))
            / (
                F.sqrt(F.expr(dot.format(a="qe", b="qe")))
                * F.sqrt(F.expr(dot.format(a="embedding", b="embedding")))
            )
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        pairs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 5)
        .select("q_id", F.col("r").cast("long").alias("rank"), "vec_id", "cos_sim")
    )


# =====================================================================
# E. Non-SQL-expressible ops (rows-only driver check)
# =====================================================================
# (codec_roundtrip / compressed_tiers now live in section K with full
# DuckDB oracles; the early rows-only versions were deleted in round 3.)


# =====================================================================
# F. Dedup + text analysis (training-data pipeline ops)
# =====================================================================

# portable shingle table: distinct 3-word-gram md5->bigint per doc
SQL_SH = """
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), x -> x != '') AS ws
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(array_to_string(ws[i:i+2], chr(31))), 1, 15))::BIGINT AS s
  FROM w, unnest(range(1, len(ws) - 1)) AS t(i)
  WHERE len(ws) >= 3
)
"""


@q(
    "ngram_jaccard",
    SQL_SH
    + f"""
, shc AS (
  SELECT sh.doc_id, sh.s FROM sh
  JOIN (SELECT s, COUNT(*)::BIGINT AS df FROM sh GROUP BY s) d
    ON d.s = sh.s AND d.df <= {NGRAM_MAX_DF}
), sz AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n FROM shc GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS common
  FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, common,
       common::DOUBLE / (x.n + y.n - common)::DOUBLE AS jaccard
FROM common JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
WHERE common::DOUBLE / (x.n + y.n - common)::DOUBLE >= {NGRAM_JACCARD_MIN}
""",
)
def ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup pairs (shared-shingle candidates with a
    document-frequency cap, never O(n^2)) — operators/dedup.py."""
    sh = shingles(load(spark, sf_dir, "documents"))
    return ngram_jaccard_pairs(sh)


def _minhash_sql() -> str:
    p = MINHASH_PRIME
    mins = ",\n         ".join(
        f"MIN(((s % {p}) * {2 * i + 1} + {i * 40503 + 17}) % {p}) AS mh{i}" for i in range(MINHASH_K)
    )
    bands = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || '_' || ".join(f"CAST(mh{LSH_BAND * b + j} AS VARCHAR)" for j in range(LSH_BAND))
        + " AS key FROM mh"
        for b in range(MINHASH_K // LSH_BAND)
    )
    return (
        SQL_SH
        + f"""
, mh AS (
  SELECT doc_id,
         {mins}
  FROM sh GROUP BY doc_id
), bt AS (
  {bands}
), btc AS (
  SELECT bt.doc_id, bt.band, bt.key FROM bt
  JOIN (SELECT band, key, COUNT(*)::BIGINT AS bn FROM bt GROUP BY band, key) c
    ON c.band = bt.band AND c.key = bt.key AND c.bn <= {LSH_MAX_BUCKET}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM btc a JOIN btc b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
"""
    )


@q("minhash_lsh", _minhash_sql())
def minhash_lsh(spark, sf_dir):
    """MinHash+LSH candidate pairs (K=8, bands of 2, bucket-size cap) —
    operators/dedup.py."""
    # distinct=False: min over the shingle multiset == min over its set, so
    # signatures (and the oracle hash) are unchanged while the shingle-table
    # dedup exchange disappears
    sh = shingles(load(spark, sf_dir, "documents"), distinct=False)
    sig = minhash_signatures(sh)
    return lsh_candidate_pairs(sig)


def _dedup_clusters_sql() -> str:
    # transitive closure by recursive CTE (UNION dedups -> fixpoint), then
    # component id = min reachable id — the same pure function of the edge
    # set that min-label propagation converges to on the Spark side
    return f"""
WITH RECURSIVE pairs AS (
  {_minhash_sql()}
), sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
), cc(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT cc.node, e.b FROM cc JOIN sym e ON e.a = cc.r
)
SELECT node AS doc_id, MIN(r) AS cluster_id FROM cc GROUP BY node
"""


@q("dedup_clusters", _dedup_clusters_sql())
def dedup_clusters(spark, sf_dir):
    """Near-dup clusters: MinHash-LSH candidate pairs -> connected
    components (min-label propagation, operators/dedup.py) -> (doc,
    cluster) where cluster = min doc_id in the component. The step a
    training-data pipeline runs right after pair generation to pick one
    canonical doc per cluster. Oracle computes the identical fixpoint by
    recursive-CTE transitive closure."""
    # distinct=False: identical MinHash signatures without the shingle
    # dedup exchange (min over multiset == min over set)
    sh = shingles(load(spark, sf_dir, "documents"), distinct=False)
    sig = minhash_signatures(sh)
    pairs = lsh_candidate_pairs(sig)
    # connected_components probes every second round on purpose: probing
    # every round was tried in r8 (LSH clusters converge in 2-3 rounds, so
    # one spare round looked wasteful) and measured SLOWER interleaved
    # (4.37 s vs 3.77 s) — a probe is itself a join+count job, costing
    # more than the no-op round it saves.
    cc = connected_components(pairs)
    return cc.select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))


def _simhash_sql() -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (s >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}" for i in range(SIMHASH_BITS)
    )
    sig = " + ".join(f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS))
    return (
        SQL_SH
        + f"""
, votes AS (
  SELECT doc_id,
         {votes}
  FROM sh GROUP BY doc_id
)
SELECT doc_id, ({sig})::BIGINT AS simhash FROM votes
"""
    )


@q("simhash", _simhash_sql())
def simhash(spark, sf_dir):
    """SimHash signatures (16-bit here; 64 at scale) — operators/dedup.py."""
    sh = shingles(load(spark, sf_dir, "documents"))
    return simhash_signatures(sh)


@q(
    "dedup_canonical",
    """
WITH h AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, md5(text) AS h,
         row_number() OVER (PARTITION BY md5(text) ORDER BY CAST(doc_id AS VARCHAR)) AS rn
  FROM documents
)
SELECT doc_id, h, rn = 1 AS is_canonical FROM h
""",
)
def dedup_canonical(spark, sf_dir):
    """Exact dedup keep-first (operators/dedup.dedup_exact)."""
    from .operators.dedup import dedup_exact as de

    return de(load(spark, sf_dir, "documents"))


@q(
    "token_counts",
    """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       len(list_filter(string_split(text, ' '), w -> w != ''))::BIGINT AS n_words,
       length(text)::BIGINT AS n_chars,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_est
FROM documents
""",
)
def token_counts(spark, sf_dir):
    """Token counting: whitespace words + BPE-ish estimate
    (operators/textstats.py)."""
    from .operators.textstats import token_counts as tc

    return tc(load(spark, sf_dir, "documents"))


@q(
    "quality_scores",
    r"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
         list_filter(string_split(text, ' '), x -> x != '') AS ws
  FROM documents
)
SELECT doc_id,
       len(ws)::BIGINT AS n_words,
       len(list_filter(ws, x -> x IN ('the','and','of','to','a','in','is')))::DOUBLE
         / len(ws)::DOUBLE AS stopword_ratio,
       (length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')))::DOUBLE
         / length(text)::DOUBLE AS punct_ratio,
       list_aggregate(list_transform(ws, x -> length(x)), 'sum')::DOUBLE
         / len(ws)::DOUBLE AS mean_word_len
FROM w WHERE len(ws) > 0
""",
)
def quality_scores(spark, sf_dir):
    """Quality scoring: stopword/punct ratios, mean word length
    (operators/textstats.py)."""
    from .operators.textstats import quality_scores as qs

    return qs(load(spark, sf_dir, "documents"))


@q(
    "repetition_scores",
    r"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), x -> x != '') AS ws
  FROM documents
), f AS (
  SELECT doc_id, ws FROM w WHERE len(ws) >= 2
), b AS (
  SELECT doc_id, ws,
         list_sort(list_transform(range(1, len(ws)), i ->
           ('0x' || substr(md5(ws[i] || chr(31) || ws[i+1]), 1, 15))::BIGINT)) AS bg
  FROM f
), r AS (
  SELECT doc_id, ws,
         -- run-length max over the sorted bigram hashes: LIST accumulator
         -- [prev, run, maxrun] (struct accumulators mutate field-by-field
         -- in DuckDB list_reduce)
         list_reduce(
           list_prepend([-1::BIGINT, 0::BIGINT, 0::BIGINT],
                        list_transform(bg, x -> [x, 0::BIGINT, 0::BIGINT])),
           (s, e) -> CASE WHEN e[1] = s[1]
             THEN [e[1], s[2] + 1, greatest(s[3], s[2] + 1)]
             ELSE [e[1], 1::BIGINT, greatest(s[3], 1::BIGINT)] END
         )[3] AS maxrun
  FROM b
)
SELECT doc_id,
       len(ws)::BIGINT AS n_words,
       1.0::DOUBLE - len(list_distinct(ws))::DOUBLE / len(ws)::DOUBLE AS dup_word_frac,
       maxrun::DOUBLE / (len(ws) - 1)::DOUBLE AS top_bigram_frac
FROM r
""",
)
def repetition_scores(spark, sf_dir):
    """Gopher-style repetition quality filters: duplicate-word fraction +
    top-bigram fraction per doc (operators/textstats.py), computed
    shuffle-free by a per-row sorted-hash run-length fold."""
    from .operators.textstats import repetition_scores as rs

    return rs(load(spark, sf_dir, "documents"))


def _langid_sql() -> str:
    langs = list(LANG_MARKERS)
    score_cols = ",\n       ".join(
        "len(list_filter(ws, x -> x IN ({m})))::BIGINT AS s_{lang}".format(
            m=", ".join(f"'{w}'" for w in LANG_MARKERS[lang]), lang=lang
        )
        for lang in langs
    )
    pred, best = f"'{langs[0]}'", f"s_{langs[0]}"
    for lang in langs[1:]:
        pred = f"CASE WHEN s_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"greatest({best}, s_{lang})"
    return f"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang,
         list_filter(string_split(text, ' '), x -> x != '') AS ws
  FROM documents
), sc AS (
  SELECT doc_id, lang AS lang_true,
       {score_cols}
  FROM w
)
SELECT doc_id, lang_true, {pred} AS lang_pred, ({best})::BIGINT AS score FROM sc
"""


@q("lang_id", _langid_sql())
def lang_id(spark, sf_dir):
    """Marker-word language-ID heuristic (operators/textstats.py)."""
    from .operators.textstats import lang_id as li

    return li(load(spark, sf_dir, "documents"))


# =====================================================================
# G. Augmentation, scalar functions, encoders, metrics
# =====================================================================


@q(
    "augment_reverse_polarity",
    SQL_PTS
    + """
SELECT doc_id,
       SUM(CASE WHEN off >= n_tok - 8 THEN -tok * CAST(power(31, n_tok - 1 - off) AS BIGINT)
                ELSE 0 END)::BIGINT AS pol_head_hash,
       arg_max(-tok, off)::BIGINT AS rev_first
FROM pts GROUP BY doc_id
""",
)
def augment_reverse_polarity(spark, sf_dir):
    """reverse_ts + polarity_inversion (caits/augmentation/_augment_1d.py:553,:48):
    checksum of the inverted head + first element of the reversed signal."""
    from .operators.augment import polarity_inversion, reverse_ts

    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    a = reverse_ts(polarity_inversion(seqs).withColumn("tokens", F.col("tokens_aug")).drop("tokens_aug"))
    # tokens_aug = reverse(-tokens): head-8 polynomial hash + first element
    return a.select(
        "doc_id",
        F.expr(
            "aggregate(slice(tokens_aug, 1, 8), "
            "named_struct('s', cast(0 as bigint), 'p', cast(1 as bigint)), "
            "(acc, x) -> named_struct('s', acc.s + x * acc.p, 'p', acc.p * 31), s -> s.s)"
        ).alias("pol_head_hash"),
        F.expr("cast(element_at(tokens_aug, 1) as bigint)").alias("rev_first"),
    )


@q(
    "augment_gain_noise",
    """
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, length(text)::BIGINT AS n_tok
  FROM documents WHERE length(text) > 0
)
SELECT doc_id,
       0.8 + (('0x' || substr(md5(doc_id || ':0'), 1, 8))::BIGINT / 4294967296.0) * 0.4
         AS gain,
       CAST(floor((('0x' || substr(md5(doc_id || ':1'), 1, 8))::BIGINT / 4294967296.0 - 0.5)
            * 10.0 * 1024.0) AS BIGINT) AS noise1_q
FROM d
""",
)
def augment_gain_noise(spark, sf_dir):
    """Hash-derived deterministic gain + per-sample noise (engine-portable
    replacement for np.random in caits/augmentation/_augment_1d.py:12,:29)."""
    from .operators.augment import add_white_noise, random_gain

    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    g = random_gain(seqs)
    n = add_white_noise(seqs.select("doc_id", "tokens")).select(
        "doc_id",
        (
            F.floor(
                (F.expr("element_at(tokens_aug, 2)") - F.expr("cast(element_at(tokens, 2) as double)"))
                * 1024.0
            )
        ).cast("long").alias("noise1_q"),
    )
    return g.select("doc_id", "gain").join(n, "doc_id")


@q(
    "db_scaling",
    SQL_PTS
    + """
, e AS (
  SELECT doc_id, SUM(tok * tok)::BIGINT AS energy, COUNT(*)::BIGINT AS n
  FROM pts GROUP BY doc_id
)
SELECT doc_id,
       round(10.0 * log10(greatest(1e-10, energy::DOUBLE / n::DOUBLE)), 9) AS power_db,
       round(20.0 * log10(greatest(1e-5, sqrt(energy::DOUBLE / n::DOUBLE))), 9) AS amp_db,
       round(2595.0 * log10(1.0 + (energy::DOUBLE / n::DOUBLE) / 700.0), 9) AS mel_of_power
FROM e
""",
)
def db_scaling(spark, sf_dir):
    """dB + mel scalar functions (caits/fe/_spectrum.py:136-312,
    core_spectrum/_utils.py:234) over per-doc average power."""
    from .functions.scalars import hz_to_mel_htk

    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    e = seqs.select(
        "doc_id",
        F.expr(
            "aggregate(tokens, cast(0 as bigint), (a, x) -> a + cast(x as bigint) * cast(x as bigint))"
        ).alias("energy"),
        F.col("n_tok").cast("long").alias("n"),
    )
    p = F.col("energy").cast("double") / F.col("n").cast("double")
    # JVM Math.log10 and C libm log10 can differ in the last ulp -> round
    return e.select(
        "doc_id",
        F.round(10.0 * F.log10(F.greatest(F.lit(1e-10), p)), 9).alias("power_db"),
        F.round(20.0 * F.log10(F.greatest(F.lit(1e-5), F.sqrt(p))), 9).alias("amp_db"),
        F.round(hz_to_mel_htk(p), 9).alias("mel_of_power"),
    )


@q(
    "normalize_signal",
    SQL_PTS
    + """
, mx AS (
  SELECT doc_id, MAX(abs(tok)) AS m FROM pts GROUP BY doc_id
)
SELECT p.doc_id,
       SUM(CAST(floor(p.tok::DOUBLE / m.m::DOUBLE * 1024.0) AS BIGINT))::BIGINT AS norm_chk
FROM pts p JOIN mx m ON p.doc_id = m.doc_id
GROUP BY p.doc_id
""",
)
def normalize_signal(spark, sf_dir):
    """normalize_signal (caits/preprocessing.py:4-21): x / max|x| per doc,
    exact integer-grid checksum."""
    from .functions.scalars import normalize_tokens

    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    n = normalize_tokens(seqs)
    return n.select(
        "doc_id",
        F.expr(
            "aggregate(tokens_norm, cast(0 as bigint), (a, x) -> a + cast(floor(x * 1024.0) as bigint))"
        ).alias("norm_chk"),
    )


@q(
    "label_encode",
    """
SELECT DISTINCT lang, dense_rank() OVER (ORDER BY lang) - 1 AS label
FROM documents
""",
)
def label_encode(spark, sf_dir):
    """LE label encoder (caits/transformers/_encoder.py:5-49) as
    dense_rank over distinct labels. The un-partitioned window runs AFTER
    distinct(), so the single partition holds only |label-vocabulary| rows
    (5 here; bounded by the class count, never the corpus) — for
    high-cardinality vocabularies switch to distinct -> driver-broadcast
    map join."""
    d = load(spark, sf_dir, "documents").select("lang").distinct()
    w = Window.orderBy("lang")
    return d.select("lang", (F.dense_rank().over(w) - 1).cast("long").alias("label"))


@q(
    "entropy_per_user",
    SQL_EV
    + """
, c AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS c1,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS c2,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS c3,
         SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS c4,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS c5,
         COUNT(*)::BIGINT AS n
  FROM ev GROUP BY user_id
)
SELECT user_id, n, round(raw_entropy, 9) AS entropy FROM (
SELECT user_id, n,
       -((CASE WHEN c1 > 0 THEN (c1::DOUBLE / n::DOUBLE) * log2(c1::DOUBLE / n::DOUBLE) ELSE 0.0 END)
       + (CASE WHEN c2 > 0 THEN (c2::DOUBLE / n::DOUBLE) * log2(c2::DOUBLE / n::DOUBLE) ELSE 0.0 END)
       + (CASE WHEN c3 > 0 THEN (c3::DOUBLE / n::DOUBLE) * log2(c3::DOUBLE / n::DOUBLE) ELSE 0.0 END)
       + (CASE WHEN c4 > 0 THEN (c4::DOUBLE / n::DOUBLE) * log2(c4::DOUBLE / n::DOUBLE) ELSE 0.0 END)
       + (CASE WHEN c5 > 0 THEN (c5::DOUBLE / n::DOUBLE) * log2(c5::DOUBLE / n::DOUBLE) ELSE 0.0 END))
         AS raw_entropy
FROM c
)
""",
)
def entropy_per_user(spark, sf_dir):
    """compute_entropy (caits/performance/metrics.py:12-26) over the
    event-type distribution; FIXED-ORDER sum of 5 pivoted terms so both
    engines add in the same order (unordered SUM over doubles would not
    be bitwise-stable)."""
    ev = _ev(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).cast("long").alias(f"c{i+1}")
        for i, t in enumerate(types)
    ]
    c = ev.groupBy("user_id").agg(*aggs, F.count("*").alias("n"))
    n = F.col("n").cast("double")
    terms = None
    for i in range(5):
        p = F.col(f"c{i+1}").cast("double") / n
        t = F.when(F.col(f"c{i+1}") > 0, p * F.log2(p)).otherwise(F.lit(0.0))
        terms = t if terms is None else terms + t
    return c.select("user_id", "n", F.round(-terms, 9).alias("entropy"))


@q(
    "detection_metrics",
    SQL_EV
    + ","
    + _type_islands_sql("click", "pred")
    + ","
    + _type_islands_sql("error", "gt")
    + """
, pairs AS (
  SELECT p.user_id, p.s AS p_start,
         (least(p.e, g.e) - greatest(p.s, g.s))::DOUBLE
           / (greatest(p.e, g.e) - least(p.s, g.s))::DOUBLE AS iou
  FROM pred p JOIN gt g
    ON p.user_id = g.user_id AND p.s <= g.e AND g.s <= p.e
       AND greatest(p.e, g.e) > least(p.s, g.s)
), matched AS (
  SELECT DISTINCT user_id, p_start FROM pairs WHERE iou >= 0.1
)
SELECT (SELECT COUNT(*)::BIGINT FROM pred) AS n_pred,
       (SELECT COUNT(*)::BIGINT FROM gt) AS n_gt,
       (SELECT COUNT(*)::BIGINT FROM matched) AS n_matched,
       (SELECT COUNT(*)::BIGINT FROM matched)::DOUBLE
         / (SELECT COUNT(*)::BIGINT FROM pred)::DOUBLE AS detection_ratio
""",
)
def detection_metrics(spark, sf_dir):
    """detection_ratio / matched-event counts (caits/performance/metrics.py:103,
    detection.py:98-156) over the interval-IoU join."""
    ev = _ev(spark, sf_dir)
    # r8: single shared island pass (see _type_islands_all)
    isl = _type_islands_all(ev, ["click", "error"])
    pred = isl.filter(F.col("event_type") == "click").select("user_id", "s", "e").alias("p")
    gt = isl.filter(F.col("event_type") == "error").select("user_id", "s", "e").alias("g")
    pairs = pred.join(
        gt,
        (F.col("p.user_id") == F.col("g.user_id"))
        & (F.col("p.s") <= F.col("g.e"))
        & (F.col("g.s") <= F.col("p.e"))
        & (F.greatest(F.col("p.e"), F.col("g.e")) > F.least(F.col("p.s"), F.col("g.s"))),
    ).select(
        F.col("p.user_id").alias("user_id"),
        F.col("p.s").alias("p_start"),
        (
            (F.least(F.col("p.e"), F.col("g.e")) - F.greatest(F.col("p.s"), F.col("g.s"))).cast("double")
            / (F.greatest(F.col("p.e"), F.col("g.e")) - F.least(F.col("p.s"), F.col("g.s"))).cast("double")
        ).alias("iou"),
    )
    matched = pairs.filter(F.col("iou") >= 0.1).select("user_id", "p_start").distinct()
    # ONE lazy plan: three 1-row aggregates cross-joined (each side is a
    # single row, so the joins are trivial broadcasts) — no driver .count()
    # actions, no recomputation of the islands subtree per metric
    a_pred = pred.agg(F.count("*").cast("long").alias("n_pred"))
    a_gt = gt.agg(F.count("*").cast("long").alias("n_gt"))
    a_m = matched.agg(F.count("*").cast("long").alias("n_matched"))
    return a_pred.crossJoin(a_gt).crossJoin(a_m).select(
        "n_pred",
        "n_gt",
        "n_matched",
        (F.col("n_matched").cast("double") / F.col("n_pred").cast("double")).alias(
            "detection_ratio"
        ),
    )


@q("spectral_features", spectral_exact_sql())
def spectral_features_q(spark, sf_dir):
    """Spectral feature struct (centroid/rolloff/spread/skewness/kurtosis/
    std/slope/decrease/rms — caits/fe/_spectral.py:8-426 formulas) over the
    canonical first 64-token frame, FULL oracle: the quantized-integer-
    twiddle DFT + fixed-fold-order features of functions/spectral_exact.py
    are bit-reproducible in DuckDB (raw doubles hash-match, no rounding).
    The full-doc numpy-rFFT reference (oracle/spectral.py) is tied to
    this kernel by parity pytest."""
    from .functions.spectral_exact import spectral_features_exact

    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    return spectral_features_exact(seqs)


@q("dsp_features", dsp_exact_sql())
def dsp_features_q(spark, sf_dir):
    """Mel energies + MFCCs (caits/fe/_spectrum.py:339-462 pipeline) over
    the canonical first 64-token frame, FULL oracle: mel energies are
    bit-exact doubles (integer DFT + literal filterbank + fixed folds);
    MFCCs pass through log so they're floor(x*2^14)-quantized on both
    engines."""
    from .functions.spectral_exact import dsp_features_exact

    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    return dsp_features_exact(seqs)


@q("mfcc_stats", mfcc_stats_sql())
def mfcc_stats_q(spark, sf_dir):
    """mfcc_stats composite (caits/fe/_spectrum.py:432-462: per-coefficient
    mean (+) std across frames) over up to 8 non-overlapping 64-token
    frames, FULL oracle: per-frame quantized MFCC -> exact integer first/
    second moments -> identical mean/var/std expressions both engines."""
    from .functions.spectral_exact import mfcc_stats_exact

    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    return mfcc_stats_exact(seqs)

# =====================================================================
# G. Round-2 additions: LSH-oracle similarity, rank correlation
# =====================================================================

def _bucket_sql(n_bits: int, seed: int) -> str:
    """DuckDB expression computing the SAME random-hyperplane LSH bucket as
    operators/similarity.lsh_bucket_col: identical literals, identical
    left-fold dot product, identical sign test — bitwise-deterministic both
    engines."""
    planes = _hyperplanes(EMB_DIM, n_bits, seed)
    bits = [
        f"(CASE WHEN {SQL_DOT.format(a='embedding', b=_dbl_list(p))} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(bits) + ")::BIGINT"


def _emb_near_dup_sql() -> str:
    tables = "\n  UNION ALL ".join(
        f"SELECT {t} AS tbl, vec_id, {_bucket_sql(EMB_BITS, EMB_SEED + 1000003 * t)} AS bucket "
        "FROM embeddings"
        for t in range(EMB_TABLES)
    )
    cos = (
        SQL_DOT.format(a="ea.embedding", b="eb.embedding")
        + f" / (sqrt({SQL_DOT.format(a='ea.embedding', b='ea.embedding')})"
        + f" * sqrt({SQL_DOT.format(a='eb.embedding', b='eb.embedding')}))"
    )
    # the engine's bucket cap, so both plans drop the SAME degenerate buckets
    return f"""
WITH bt0 AS (
  {tables}
), keep AS (
  SELECT tbl, bucket FROM bt0 GROUP BY tbl, bucket HAVING COUNT(*) <= {EMB_MAX_BUCKET}
), bt AS (
  SELECT bt0.* FROM bt0 JOIN keep USING (tbl, bucket)
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bt a JOIN bt b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, {cos} AS cos_sim
FROM cand JOIN embeddings ea ON ea.vec_id = id_a JOIN embeddings eb ON eb.vec_id = id_b
WHERE {cos} >= {EMB_COS_MIN}
"""


@q("embedding_near_dups", _emb_near_dup_sql())
def embedding_near_dups_q(spark, sf_dir):
    """Embedding near-dup pairs via multi-table hyperplane LSH
    (operators/dedup.embedding_near_dups — never corpus^2).
    FULL oracle: the hyperplanes are deterministic literals embedded in both
    plans, so DuckDB reproduces buckets, candidates, and cosines exactly."""
    return embedding_near_dups(load(spark, sf_dir, "embeddings"))


def _lsh_ann_sql() -> str:
    cos = (
        SQL_DOT.format(a="q.qe", b="c.embedding")
        + f" / (sqrt({SQL_DOT.format(a='q.qe', b='q.qe')})"
        + f" * sqrt({SQL_DOT.format(a='c.embedding', b='c.embedding')}))"
    )
    probes = ", ".join(["bucket"] + [f"xor(bucket, {1 << i})" for i in range(LSH_PROBES - 1)])
    return f"""
WITH cb AS (
  SELECT vec_id, embedding, {_bucket_sql(LSH_BITS, LSH_SEED)} AS bucket FROM embeddings
), qb0 AS (
  SELECT vec_id AS q_id, embedding AS qe, bucket FROM cb WHERE vec_id < 10
), qb AS (
  SELECT q_id, qe, unnest([{probes}]) AS bucket FROM qb0
), pairs AS (
  SELECT q.q_id, c.vec_id, {cos} AS cos_sim
  FROM qb q JOIN cb c ON c.bucket = q.bucket AND c.vec_id != q.q_id
), rk AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS r
  FROM pairs
)
SELECT q_id, r AS rank, vec_id, cos_sim FROM rk WHERE r <= {ANN_K}
"""


# upgrade lsh_ann from rows-only to a FULL oracle (deterministic literal
# hyperplanes are SQL-expressible) — replaces the round-1 rows-only entry
@q("lsh_ann", _lsh_ann_sql())
def lsh_ann_oracle(spark, sf_dir):
    """Multi-probe LSH approximate NN (operators/similarity.py scale path):
    each query probes its own bucket + the two Hamming-1 neighbors. Full
    DuckDB oracle reproducing buckets, probes, and cosines exactly."""
    e = load(spark, sf_dir, "embeddings")
    res = lsh_topk(e, e.filter(F.col("vec_id") < 10), EMB_DIM)
    return res.select("q_id", F.col("rank").cast("long").alias("rank"), "vec_id", "cos_sim")


def _ivf_ann_sql() -> str:
    # cosine folds identical to the Spark plan: a / (sqrt(b) * sqrt(c)),
    # every dot a left fold in index order (SQL_DOT == Spark `aggregate`)
    cos_ec = (
        SQL_DOT.format(a="e.embedding", b="c.ce")
        + f" / (sqrt({SQL_DOT.format(a='e.embedding', b='e.embedding')})"
        + f" * sqrt({SQL_DOT.format(a='c.ce', b='c.ce')}))"
    )
    cos_qc = (
        SQL_DOT.format(a="q.qe", b="c.embedding")
        + f" / (sqrt({SQL_DOT.format(a='q.qe', b='q.qe')})"
        + f" * sqrt({SQL_DOT.format(a='c.embedding', b='c.embedding')}))"
    )
    return f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid,
         embedding AS ce
  FROM (SELECT vec_id, embedding FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {IVF_CENT})
), asg AS (
  SELECT e.vec_id, e.embedding, c.cid, {cos_ec} AS score
  FROM embeddings e CROSS JOIN cent c
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS pr
  FROM asg
), cells AS (
  SELECT vec_id, embedding, cid AS cell FROM ranked WHERE pr = 1
), qp AS (
  SELECT vec_id AS q_id, embedding AS qe, cid AS cell
  FROM ranked WHERE vec_id < 10 AND pr <= {IVF_PROBE}
), pairs AS (
  SELECT q.q_id, c.vec_id, {cos_qc} AS cos_sim
  FROM qp q JOIN cells c ON c.cell = q.cell AND c.vec_id != q.q_id
), rk AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS r
  FROM pairs
)
SELECT q_id, r AS rank, vec_id, cos_sim FROM rk WHERE r <= {ANN_K}
"""


@q("ivf_ann", _ivf_ann_sql())
def ivf_ann(spark, sf_dir):
    """IVF approximate NN (operators/similarity.py ivf_topk — the
    data-adaptive scale path next to the oblivious LSH one): 16
    deterministic hash-sampled centroids partition the corpus into Voronoi
    cells; each query exact-cosine-re-ranks only its 3 nearest cells.
    Oracle rebuilds the identical model (same md5 centroid choice, same
    fold order), cells, probes, and ranking in DuckDB."""
    e = load(spark, sf_dir, "embeddings")
    res = ivf_topk(e, e.filter(F.col("vec_id") < 10))
    return res.select("q_id", F.col("rank").cast("long").alias("rank"), "vec_id", "cos_sim")


# ----------------------------------------------------- rank correlation

SQL_SPEARMAN = (
    SQL_LI
    + """
, r AS (
  SELECT l_returnflag,
         2 * rank() OVER (PARTITION BY l_returnflag ORDER BY q)
           + COUNT(*) OVER (PARTITION BY l_returnflag, q) - 1 AS rx,
         2 * rank() OVER (PARTITION BY l_returnflag ORDER BY d_c)
           + COUNT(*) OVER (PARTITION BY l_returnflag, d_c) - 1 AS ry
  FROM li
), s AS (
  -- HUGEINT sums: the squared-rank sums scale ~4n^3/3 and pass int64 at
  -- ~1.9e6 rows/group; Spark mirrors with decimal(38,0) so both engines
  -- keep EXACT integers at any group size before the double combination
  SELECT l_returnflag, COUNT(*)::BIGINT AS n,
         SUM(rx::HUGEINT) AS sx, SUM(rx::HUGEINT * rx::HUGEINT) AS sxx,
         SUM(ry::HUGEINT) AS sy, SUM(ry::HUGEINT * ry::HUGEINT) AS syy,
         SUM(rx::HUGEINT * ry::HUGEINT) AS sxy
  FROM r GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       (sxy::DOUBLE - ((n::DOUBLE * (sx::DOUBLE / n::DOUBLE)) * (sy::DOUBLE / n::DOUBLE)))
         / (sqrt(sxx::DOUBLE - ((n::DOUBLE * (sx::DOUBLE / n::DOUBLE)) * (sx::DOUBLE / n::DOUBLE)))
            * sqrt(syy::DOUBLE - ((n::DOUBLE * (sy::DOUBLE / n::DOUBLE)) * (sy::DOUBLE / n::DOUBLE))))
         AS spearman_q_disc
FROM s
"""
)


@q("spearman_correlation", SQL_SPEARMAN)
def spearman_correlation(spark, sf_dir):
    """Spearman rank correlation (caits/eda/correlation.py:35-65, the
    method='spearman' branch): average-rank ties via the integer identity
    2*avg_rank = 2*rank() + (n_ties - 1) — Pearson is scale-invariant, so
    doubled ranks give the identical coefficient from EXACT integer sums.
    The rank-moment sums scale ~4n^3/3, past int64 at ~1.9e6 rows/group
    (and Spark non-ANSI would WRAP silently where DuckDB promotes to
    HUGEINT), so both engines sum in wide exact integers — decimal(38,0)
    here, HUGEINT in the oracle: exact to n ~ 3e12 rows/group, far past
    the design point. The final coefficient then uses the mean-based
    double form with identical op order in both engines."""
    li = _li(spark, sf_dir)
    rx = (
        2 * F.rank().over(Window.partitionBy("l_returnflag").orderBy("q"))
        + F.count("*").over(Window.partitionBy("l_returnflag", "q"))
        - 1
    ).cast("long")
    ry = (
        2 * F.rank().over(Window.partitionBy("l_returnflag").orderBy("d_c"))
        + F.count("*").over(Window.partitionBy("l_returnflag", "d_c"))
        - 1
    ).cast("long")
    r = li.select("l_returnflag", rx.alias("rx"), ry.alias("ry"))
    # decimal(38,0) moments: exact integer sums (order-independent, so
    # hash-stable) with ~1e38 headroom vs int64's silent non-ANSI wrap at
    # ~1.9e6 rows/group; mirrors the oracle's HUGEINT promotion
    rxd = F.col("rx").cast("decimal(19,0)")
    ryd = F.col("ry").cast("decimal(19,0)")
    s = r.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(rxd).alias("sx"),
        F.sum(rxd * rxd).alias("sxx"),
        F.sum(ryd).alias("sy"),
        F.sum(ryd * ryd).alias("syy"),
        F.sum(rxd * ryd).alias("sxy"),
    )
    # mean-based double form, operation-for-operation the oracle's
    nd = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nd
    my = F.col("sy").cast("double") / nd
    rho = (F.col("sxy").cast("double") - ((nd * mx) * my)) / (
        F.sqrt(F.col("sxx").cast("double") - ((nd * mx) * mx))
        * F.sqrt(F.col("syy").cast("double") - ((nd * my) * my))
    )
    return s.select("l_returnflag", "n", rho.alias("spearman_q_disc"))


def _pair_corr_sql(x: str, y: str) -> str:
    # mean-based form in doubles: the n*sxx-sx*sx integer form overflows
    # int64 for price-scale features; every double op below is a single
    # deterministic IEEE operation on exact integer sums, mirrored
    # operation-for-operation in the Spark plan -> bitwise-identical
    return (
        f"(s_{x}{y}::DOUBLE - ((n::DOUBLE * (s_{x}::DOUBLE / n::DOUBLE)) * (s_{y}::DOUBLE / n::DOUBLE))) / "
        f"(sqrt(s_{x}{x}::DOUBLE - ((n::DOUBLE * (s_{x}::DOUBLE / n::DOUBLE)) * (s_{x}::DOUBLE / n::DOUBLE))) * "
        f"sqrt(s_{y}{y}::DOUBLE - ((n::DOUBLE * (s_{y}::DOUBLE / n::DOUBLE)) * (s_{y}::DOUBLE / n::DOUBLE))))"
    )


_HC_COLS = ["q", "p_k", "d_c", "t_c"]
_HC_PAIRS = [(a, b) for i, a in enumerate(_HC_COLS) for b in _HC_COLS[i + 1 :]]

SQL_HIGH_CORR = (
    SQL_LI
    + """
, lik AS (
  SELECT q, p_c // 1000 AS p_k, d_c, t_c FROM li
), s AS (
  SELECT COUNT(*)::BIGINT AS n,
"""
    + ",\n".join(f"         SUM({c})::BIGINT AS s_{c}" for c in _HC_COLS)
    + ",\n"
    + ",\n".join(
        f"         SUM({a} * {b})::BIGINT AS s_{a}{b}"
        for a in _HC_COLS
        for b in _HC_COLS
        if _HC_COLS.index(a) <= _HC_COLS.index(b)
    )
    + """
  FROM lik
), u AS (
"""
    + "\n  UNION ALL ".join(
        f"SELECT '{a}' AS feat_a, '{b}' AS feat_b, {_pair_corr_sql(a, b)} AS corr FROM s"
        for a, b in _HC_PAIRS
    )
    + """
)
SELECT feat_a, feat_b, corr FROM u WHERE abs(corr) >= 0.001
"""
)


@q("high_corr_pairs", SQL_HIGH_CORR)
def high_corr_pairs(spark, sf_dir):
    """get_high_corr_features (caits/eda/correlation.py:66-85): all pairwise
    Pearson correlations over numeric features in ONE aggregate (exact
    integer power sums; price bucketed to avoid int64 overflow in the
    squared sums), unpivoted, filtered on |corr| >= threshold."""
    li = _li(spark, sf_dir).select(
        "q", F.expr("p_c div 1000").alias("p_k"), "d_c", "t_c"
    )
    aggs = [F.count("*").alias("n")]
    aggs += [F.sum(F.col(c)).alias(f"s_{c}") for c in _HC_COLS]
    aggs += [
        F.sum(F.col(a) * F.col(b)).alias(f"s_{a}{b}")
        for a in _HC_COLS
        for b in _HC_COLS
        if _HC_COLS.index(a) <= _HC_COLS.index(b)
    ]
    s = li.agg(*aggs)

    def pair_corr(a: str, b: str):
        n = F.col("n").cast("double")
        mx = F.col(f"s_{a}").cast("double") / n
        my = F.col(f"s_{b}").cast("double") / n
        num = F.col(f"s_{a}{b}").cast("double") - ((n * mx) * my)
        da = F.sqrt(F.col(f"s_{a}{a}").cast("double") - ((n * mx) * mx))
        db = F.sqrt(F.col(f"s_{b}{b}").cast("double") - ((n * my) * my))
        return num / (da * db)

    rows = [
        F.struct(F.lit(a).alias("feat_a"), F.lit(b).alias("feat_b"), pair_corr(a, b).alias("corr"))
        for a, b in _HC_PAIRS
    ]
    u = s.select(F.explode(F.array(*rows)).alias("r")).select("r.feat_a", "r.feat_b", "r.corr")
    return u.filter(F.abs(F.col("corr")) >= 0.001)


# -------------------------------------------------- Butterworth (full oracle)


def _sosfilt_chk_sql(sos) -> str:
    """DuckDB expression: fold each doc's token list through the DF2T biquad
    cascade (zero initial state, EXACT op order of functions/iir.sosfilt)
    accumulating sum(floor(y*Q)). Struct-typed fold state carries the 2
    states per section + the checksum; coefficient literals are repr()'d
    float64 so both engines compute identical IEEE doubles."""

    ns = len(sos)
    # accumulator is a LIST [z1_0, z2_0, z1_1, z2_1, ..., chk] (1-indexed):
    # DuckDB 1.0's list_reduce mutates a STRUCT accumulator field-by-field
    # during the lambda (later fields read already-updated earlier fields —
    # verified with a minimal repro), while a fresh list literal is built
    # from the OLD accumulator only. The Spark-side kernel semantics need
    # old-state reads, so the list form is the correct encoding.
    def z1(s: int) -> str:
        return f"acc[{2 * s + 1}]"

    def z2(s: int) -> str:
        return f"acc[{2 * s + 2}]"

    chk_slot = 2 * ns + 1
    # chained per-section outputs: y_s = b0_s * y_{s-1} + z1_s(old)
    y = "e[1]"
    ys = []
    for s, (b0, b1, b2, _, a1, a2) in enumerate(sos):
        y = f"({_dbl(b0)} * {y} + {z1(s)})"
        ys.append(y)
    slots = []
    yin = "e[1]"
    for s, (b0, b1, b2, _, a1, a2) in enumerate(sos):
        y_s = ys[s]
        slots.append(f"{_dbl(b1)} * {yin} - {_dbl(a1)} * {y_s} + {z2(s)}")
        slots.append(f"{_dbl(b2)} * {yin} - {_dbl(a2)} * {y_s}")
        yin = y_s
    slots.append(f"acc[{chk_slot}] + floor({ys[-1]} * 1024.0)")
    zero_list = ", ".join(["0.0::DOUBLE"] * chk_slot)
    elem_list = ", ".join(["t::DOUBLE"] + ["0.0::DOUBLE"] * (chk_slot - 1))
    return (
        f"(list_reduce(list_prepend([{zero_list}], "
        f"list_transform(toks, t -> [{elem_list}])), "
        f"(acc, e) -> [{', '.join(slots)}]))[{chk_slot}]::BIGINT"
    )


def _butter_query_sos():
    from .functions.iir import DOCS_FILTER, butter_sos

    return butter_sos(*DOCS_FILTER)


SQL_BUTTER = f"""
WITH tok AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_transform(range(1, length(text) + 1), i -> unicode(text[i])) AS toks
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, {_sosfilt_chk_sql(_butter_query_sos())} AS filt_chk
FROM tok
"""


@q("butterworth_sosfilt", SQL_BUTTER)
def butterworth_sosfilt(spark, sf_dir):
    """True order-4 Butterworth lowpass (analog prototype + bilinear + SOS
    cascade, caits/filtering.py:72-163 'sosfilt' method), forward pass,
    quantized checksum per doc. FULL oracle: DuckDB folds the identical
    biquad recursion with identical literals — bitwise-equal doubles."""
    from .functions.iir import butterworth_docs

    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    out = butterworth_docs(seqs)
    return out.select("doc_id", F.col("filt_chk").cast("long").alias("filt_chk"))


# ------------------------------------------- cubic spline (full oracle)


# cubic_spline_interp's knots per user and checksum quantizer
SPLINE_KNOTS = 8
SPLINE_Q = 1048576.0


def _spline_oracle_sql() -> str:
    """Unrolled not-a-knot cubic spline (SPLINE_KNOTS knots) + integer-grid
    Hermite evaluation + floor checksum, mirroring
    oracle/signal.spline_chk_scalar OPERATION FOR OPERATION (same literals,
    same associativity) so the DuckDB doubles are bitwise-identical to the
    kernel's."""
    n = SPLINE_KNOTS
    xs = [f"x{i}" for i in range(1, n + 1)]
    cols = []
    for i in range(1, n + 1):
        cols.append(f"MAX(CASE WHEN rn = {i} THEN minute END)::DOUBLE AS x{i}")
        cols.append(
            f"MAX(CASE WHEN rn = {i} THEN clicks END)::DOUBLE"
            f" / MAX(CASE WHEN rn = {i} THEN total END)::DOUBLE AS y{i}"
        )
    deriv = []
    for i in range(1, n):
        deriv.append(f"x{i+1} - x{i} AS h{i}")
    for i in range(1, n):
        deriv.append(f"(y{i+1} - y{i}) / h{i} AS d{i}")
    # not-a-knot rows (SQL 1-indexed; python p = r-1)
    sysr = [
        "h2 AS di1",
        "h1 + h2 AS up1",
        "((h1 + 2.0 * (h1 + h2)) * h2 * d1 + h1 * h1 * d2) / (h1 + h2) AS b1",
    ]
    for r in range(2, n):
        sysr += [
            f"h{r} AS lo{r}",
            f"2.0 * (h{r-1} + h{r}) AS di{r}",
            f"h{r-1} AS up{r}",
            f"3.0 * (h{r} * d{r-1} + h{r-1} * d{r}) AS b{r}",
        ]
    sysr += [
        f"h{n-1} + h{n-2} AS lo{n}",
        f"h{n-2} AS di{n}",
        f"(h{n-1} * h{n-1} * d{n-2} + (2.0 * (h{n-1} + h{n-2}) + h{n-1}) * h{n-2} * d{n-1})"
        f" / (h{n-1} + h{n-2}) AS b{n}",
    ]
    thomas = ["up1 / di1 AS cp1", "b1 / di1 AS bp1"]
    for k in range(2, n + 1):
        thomas.append(f"di{k} - lo{k} * cp{k-1} AS den{k}")
        if k < n:
            thomas.append(f"up{k} / den{k} AS cp{k}")
        thomas.append(f"(b{k} - lo{k} * bp{k-1}) / den{k} AS bp{k}")
    slopes = [f"bp{n} AS m{n}"]
    for k in range(n - 1, 0, -1):
        slopes.append(f"bp{k} - cp{k} * m{k+1} AS m{k}")
    # per-t interval pick: first j with x_j <= t < x_{j+1}, else n-1
    iv = "CASE " + " ".join(
        f"WHEN td < x{j+1} THEN {j}" for j in range(1, n - 1)
    ) + f" ELSE {n-1} END"

    def pick(pfx: str, off: int = 0) -> str:
        return (
            "CASE iv "
            + " ".join(f"WHEN {j} THEN {pfx}{j + off}" for j in range(1, n))
            + " END"
        )

    val = (
        "(2.0 * s3 - 3.0 * s2 + 1.0) * yi + (s3 - 2.0 * s2 + s) * (mi * hi)"
        " + (-2.0 * s3 + 3.0 * s2) * yi1 + (s3 - s2) * (mi1 * hi)"
    )
    return f"""
, mb AS (
  SELECT user_id, minute,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS clicks,
         COUNT(*)::BIGINT AS total
  FROM ev GROUP BY user_id, minute
), rk AS (
  SELECT user_id, minute, clicks, total,
         row_number() OVER (PARTITION BY user_id ORDER BY minute) AS rn
  FROM mb
), k AS (
  SELECT user_id, {", ".join(cols)}
  FROM rk WHERE rn <= {n} GROUP BY user_id HAVING COUNT(*) = {n}
), c AS (
  SELECT user_id, {", ".join(xs)}, {", ".join("y%d" % i for i in range(1, n + 1))},
         {", ".join(deriv)},
         {", ".join(sysr)},
         {", ".join(thomas)},
         {", ".join(slopes)}
  FROM k
), pts AS (
  SELECT *, t::DOUBLE AS td, {iv} AS iv FROM (
    SELECT c.*, unnest(range(CAST(x1 AS BIGINT), CAST(x{n} AS BIGINT) + 1)) AS t FROM c
  )
), ev2 AS (
  SELECT user_id,
         (td - ({pick("x")})) / ({pick("h")}) AS s,
         {pick("y")} AS yi, {pick("y", 1)} AS yi1,
         {pick("m")} AS mi, {pick("m", 1)} AS mi1,
         {pick("h")} AS hi
  FROM pts
), v AS (
  SELECT user_id, s, s * s AS s2, s * s * s AS s3, yi, yi1, mi, mi1, hi FROM ev2
)
SELECT user_id, SUM(floor(({val}) * {SPLINE_Q!r}))::BIGINT AS spline_chk
FROM v GROUP BY user_id
"""


@q("cubic_spline_interp", SQL_EV + _spline_oracle_sql())
def cubic_spline_interp(spark, sf_dir):
    """Not-a-knot cubic spline (caits/performance/utils.py:51-107 /
    scipy.CubicSpline default) through each user's first 8 minute-bucket
    click-rates, evaluated on the integer minute grid, floor-checksummed.
    FULL oracle: the DuckDB side unrolls the identical Thomas solve."""
    from .functions.spline import spline_eval, spline_slopes

    ev = _ev(spark, sf_dir)
    mb = ev.groupBy("user_id", "minute").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).cast("long").alias("clicks"),
        F.count("*").cast("long").alias("total"),
    )
    g = mb.groupBy("user_id").agg(
        F.slice(
            F.sort_array(F.collect_list(F.struct("minute", "clicks", "total"))), 1, SPLINE_KNOTS
        ).alias("k"),
        F.count("*").alias("nmin"),
    ).filter(F.col("nmin") >= SPLINE_KNOTS)

    @worker_kernel
    def kernel(batches):
        import numpy as np
        import pandas as pd

        # vectorized spline path: bitwise-identical to oracle/signal.spline_chk_scalar
        # (the op-order twin the oracle unrolls) — proven by
        # tests/test_spline.py::test_scalar_chk_matches_vectorized
        for pdf in batches:
            uids, chks = [], []
            for uid, knots in zip(pdf["user_id"], pdf["k"]):
                xs = np.array([float(kk["minute"]) for kk in knots])
                ys = np.array([float(kk["clicks"]) / float(kk["total"]) for kk in knots])
                m = spline_slopes(xs, ys)
                t = np.arange(xs[0], xs[-1] + 1.0)
                chk = np.floor(spline_eval(xs, ys, m, t) * SPLINE_Q).sum()
                uids.append(uid)
                chks.append(int(chk))
            yield pd.DataFrame({"user_id": uids, "spline_chk": chks})

    return g.select("user_id", "k").mapInPandas(kernel, schema="user_id long, spline_chk long")


# ---------------------------------- event classification metrics (EP3 tail)

SQL_EVENT_CLS = (
    SQL_EV
    + """
, pe AS (
  SELECT user_id, event_type AS lbl, us,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id, event_type ORDER BY us, event_id)
                   > 21600000000 OR
                   lag(us) OVER (PARTITION BY user_id, event_type ORDER BY us, event_id) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM ev WHERE event_type IN ('click', 'purchase')
), pg AS (
  SELECT user_id, lbl, us,
         SUM(brk) OVER (PARTITION BY user_id, lbl ORDER BY us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM pe
), pred AS (
  SELECT user_id, lbl, MIN(us) AS s, MAX(us) AS e FROM pg GROUP BY user_id, lbl, grp
), ge AS (
  SELECT user_id, event_type,
         CASE event_type WHEN 'error' THEN 'click' ELSE 'purchase' END AS lbl, us,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id, event_type ORDER BY us, event_id)
                   > 21600000000 OR
                   lag(us) OVER (PARTITION BY user_id, event_type ORDER BY us, event_id) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM ev WHERE event_type IN ('error', 'view')
), gg AS (
  SELECT user_id, event_type, lbl, us,
         SUM(brk) OVER (PARTITION BY user_id, event_type ORDER BY us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM ge
), gt AS (
  SELECT user_id, lbl, MIN(us) AS s, MAX(us) AS e FROM gg GROUP BY user_id, event_type, grp, lbl
), pairs AS (
  SELECT p.user_id, p.s AS ps, p.lbl AS plbl, g.s AS gs, g.lbl AS glbl,
         CASE WHEN (p.e - p.s) + (g.e - g.s)
                   - greatest(0, least(p.e, g.e) - greatest(p.s, g.s)) > 0
              THEN greatest(0, least(p.e, g.e) - greatest(p.s, g.s))::DOUBLE
                   / ((p.e - p.s) + (g.e - g.s)
                      - greatest(0, least(p.e, g.e) - greatest(p.s, g.s)))::DOUBLE
              ELSE 0.0 END AS iou
  FROM pred p LEFT JOIN gt g ON p.user_id = g.user_id
), best AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, plbl, ps
                               ORDER BY iou DESC, gs, glbl) AS rk
  FROM pairs
), cls AS (
  SELECT CASE WHEN iou IS NULL OR iou = 0.0 THEN 'I'
              WHEN iou < 0.25 THEN 'D'
              WHEN plbl = glbl THEN 'C'
              ELSE 'S' END AS c
  FROM best WHERE rk = 1
), cnt AS (
  SELECT SUM(CASE WHEN c = 'C' THEN 1 ELSE 0 END)::BIGINT AS corrects,
         SUM(CASE WHEN c = 'D' THEN 1 ELSE 0 END)::BIGINT AS deletions,
         SUM(CASE WHEN c = 'S' THEN 1 ELSE 0 END)::BIGINT AS substitutions,
         SUM(CASE WHEN c = 'I' THEN 1 ELSE 0 END)::BIGINT AS insertions
  FROM cls
)
SELECT corrects, deletions, substitutions, insertions,
       CASE WHEN deletions + corrects + substitutions > 0
            THEN corrects::DOUBLE / (deletions + corrects + substitutions)::DOUBLE
            ELSE 0.0 END AS detection_ratio,
       CASE WHEN corrects + insertions > 0
            THEN corrects::DOUBLE / (corrects + insertions)::DOUBLE
            ELSE 0.0 END AS reliability,
       CASE WHEN deletions + corrects + substitutions > 0
            THEN (deletions + insertions + substitutions)::DOUBLE
                 / (deletions + corrects + substitutions)::DOUBLE
            ELSE 0.0 END AS erer
FROM cnt
"""
)


@q("event_classification", SQL_EVENT_CLS)
def event_classification(spark, sf_dir):
    """classify_events + detection_ratio/reliability/erer
    (caits/performance/detection.py:98-156, metrics.py:103-147) as ONE lazy
    plan: labeled pred/gt islands, per-pred best-IoU gt (argmax with
    deterministic tiebreak), C/D/S/I counts, the three metrics. IoU_th=0.25."""
    ev = _ev(spark, sf_dir)

    # r8: ONE island pipeline over all four event types (islands are
    # computed per (user_id, event_type) group, so one pass yields rows
    # identical to the old separate pred/gt passes — verified equal), then
    # pred/gt split by filter over the persisted (small) island table: one
    # events scan + one window stage instead of two of each. Labels derive
    # from event_type exactly as before (gt maps error->click,
    # view->purchase).
    isl_all = _type_islands_all(ev, ["click", "purchase", "error", "view"])
    pred = (
        isl_all.filter(F.col("event_type").isin("click", "purchase"))
        .select("user_id", F.col("event_type").alias("lbl"), "s", "e")
        .alias("p")
    )
    gt = (
        isl_all.filter(F.col("event_type").isin("error", "view"))
        .select(
            "user_id",
            F.when(F.col("event_type") == "error", "click").otherwise("purchase").alias("lbl"),
            "s",
            "e",
        )
        .alias("g")
    )
    inter = F.greatest(
        F.lit(0), F.least(F.col("p.e"), F.col("g.e")) - F.greatest(F.col("p.s"), F.col("g.s"))
    )
    union = (F.col("p.e") - F.col("p.s")) + (F.col("g.e") - F.col("g.s")) - inter
    iou = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    pairs = pred.join(gt, F.col("p.user_id") == F.col("g.user_id"), "left").select(
        F.col("p.user_id").alias("user_id"),
        F.col("p.s").alias("ps"),
        F.col("p.lbl").alias("plbl"),
        F.col("g.s").alias("gs"),
        F.col("g.lbl").alias("glbl"),
        iou.alias("iou"),
    )
    w = Window.partitionBy("user_id", "plbl", "ps").orderBy(F.desc("iou"), "gs", "glbl")
    best = pairs.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    cls = best.select(
        F.when(F.col("iou").isNull() | (F.col("iou") == 0.0), "I")
        .when(F.col("iou") < 0.25, "D")
        .when(F.col("plbl") == F.col("glbl"), "C")
        .otherwise("S")
        .alias("c")
    )
    cnt = cls.agg(
        F.sum(F.when(F.col("c") == "C", 1).otherwise(0)).cast("long").alias("corrects"),
        F.sum(F.when(F.col("c") == "D", 1).otherwise(0)).cast("long").alias("deletions"),
        F.sum(F.when(F.col("c") == "S", 1).otherwise(0)).cast("long").alias("substitutions"),
        F.sum(F.when(F.col("c") == "I", 1).otherwise(0)).cast("long").alias("insertions"),
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


def _ep3_sosfilt_fold(sos, zi, src: str) -> str:
    """DuckDB fold: 2-section DF2T biquad cascade over list `src`, initial
    state zi * src[1] (sosfiltfilt edge-scaled zi), accumulator = 4 states
    ++ outputs so far. Result slice [6:] is the filtered list (the 5th slot
    pads the init so slicing is uniform... no — states occupy 1..4; outputs
    start at 5). Callers slice [5:]."""

    (b0, b1, b2, _, a1, a2), (c0, c1, c2, _, d1, d2) = sos
    (z00, z01), (z10, z11) = zi
    e0 = f"({src})[1]"
    init = ", ".join(f"{_dbl(z)} * {e0}" for z in (z00, z01, z10, z11))
    Y0 = f"({_dbl(b0)} * e[1] + acc[1])"
    Y1 = f"({_dbl(c0)} * {Y0} + acc[3])"
    return (
        f"(list_reduce(list_prepend([{init}], "
        f"list_transform({src}, v -> [v::DOUBLE])), "
        f"(acc, e) -> [{_dbl(b1)} * e[1] - {_dbl(a1)} * {Y0} + acc[2], "
        f"{_dbl(b2)} * e[1] - {_dbl(a2)} * {Y0}, "
        f"{_dbl(c1)} * {Y0} - {_dbl(d1)} * {Y1} + acc[4], "
        f"{_dbl(c2)} * {Y0} - {_dbl(d2)} * {Y1}] "
        f"|| acc[5:] || [{Y1}]))[5:]"
    )


def _ep3_oracle_sql() -> str:
    """DuckDB mirror of plans/ep3.ep3_pipeline, stage for stage with the
    kernels' exact operation order: per-user 16-knot not-a-knot spline
    (constant h=64 -> the Thomas cp/den factors are data-independent
    doubles computed HERE by the same numpy recurrence and embedded as
    literals; only the b/bp/m chain stays data-dependent in SQL), Hermite
    evaluation on the 0..1023 sample grid, zero-phase order-4 Butterworth
    (odd-reflection padlen=15, zi-scaled forward+backward biquad folds),
    threshold >= 0.3, duration->=32 islands, IoU-vs-GT classification and
    the three global ratios."""
    import numpy as np

    from .functions.iir import butter_sos, sosfilt_zi
    from .plans.ep3 import DUR_MIN, GT_ERR_FRAC, IOU_TH, N_WINDOWS, PROB_TH, SMOOTH, STEP

    n = N_WINDOWS
    sos = butter_sos(*SMOOTH)
    assert sos.shape[0] == 2
    zi = sosfilt_zi(sos)

    # spline system constants, replicating functions/spline.spline_slopes
    # with h_i = 64.0 (numpy ops on plain doubles -> identical IEEE values)
    h = np.diff(np.arange(n, dtype=np.float64) * STEP + STEP // 2)  # all 64.0
    lo = np.empty(n)
    di = np.empty(n)
    up = np.empty(n)
    di[0] = h[1]
    up[0] = h[0] + h[1]
    for i in range(1, n - 1):
        lo[i] = h[i]
        di[i] = 2.0 * (h[i - 1] + h[i])
        up[i] = h[i - 1]
    lo[-1] = h[-1] + h[-2]
    di[-1] = h[-2]
    cp = np.empty(n)
    den = np.empty(n)
    cp[0] = up[0] / di[0]
    den[0] = di[0]
    for k in range(1, n):
        den[k] = di[k] - lo[k] * cp[k - 1]
        cp[k] = (up[k] / den[k]) if k < n - 1 else 0.0
    # b-row constant factors (left-assoc fold of the numpy expressions)
    A1 = (h[0] + 2.0 * (h[0] + h[1])) * h[1]
    B1 = h[0] ** 2
    C1 = h[0] + h[1]
    Bn = h[-1] ** 2
    An = (2.0 * (h[-1] + h[-2]) + h[-1]) * h[-2]
    Cn = h[-1] + h[-2]

    knot_cols = []
    for i in range(1, n + 1):
        knot_cols.append(
            f"MAX(CASE WHEN rn = {i} THEN clicks END)::DOUBLE"
            f" / MAX(CASE WHEN rn = {i} THEN total END)::DOUBLE AS y{i}"
        )
        knot_cols.append(
            f"MAX(CASE WHEN rn = {i} THEN errors END)::DOUBLE"
            f" / MAX(CASE WHEN rn = {i} THEN total END)::DOUBLE AS f{i}"
        )
    sl = [f"(y{i + 1} - y{i}) / {_dbl(h[i - 1])} AS d{i}" for i in range(1, n)]
    sl.append(f"({_dbl(A1)} * d1 + {_dbl(B1)} * d2) / {_dbl(C1)} AS b1")
    for r in range(2, n):
        sl.append(f"3.0 * ({_dbl(h[r - 1])} * d{r - 1} + {_dbl(h[r - 2])} * d{r}) AS b{r}")
    sl.append(f"({_dbl(Bn)} * d{n - 2} + {_dbl(An)} * d{n - 1}) / {_dbl(Cn)} AS b{n}")
    sl.append(f"b1 / {_dbl(di[0])} AS bp1")
    for k in range(2, n + 1):
        sl.append(f"(b{k} - {_dbl(lo[k - 1])} * bp{k - 1}) / {_dbl(den[k - 1])} AS bp{k}")
    sl.append(f"bp{n} AS m{n}")
    for k in range(n - 1, 0, -1):
        sl.append(f"bp{k} - {_dbl(cp[k - 1])} * m{k + 1} AS m{k}")

    # knot x-positions: xk_i = (i-1)*STEP + STEP//2, exactly-representable
    xk = [float(i * STEP + STEP // 2) for i in range(n)]
    iv = (
        "CASE "
        + " ".join(f"WHEN td < {_dbl(xk[j])} THEN {j}" for j in range(1, n - 1))
        + f" ELSE {n - 1} END"
    )

    def pick(pfx: str, off: int = 0) -> str:
        return (
            "CASE iv "
            + " ".join(f"WHEN {j} THEN {pfx}{j + off}" for j in range(1, n))
            + " END"
        )

    xi = "CASE iv " + " ".join(f"WHEN {j} THEN {_dbl(xk[j - 1])}" for j in range(1, n)) + " END"
    hl = _dbl(64.0)
    n_samp = n * STEP  # 1024
    padlen = 15
    ext_len = n_samp + 2 * padlen

    fwd = _ep3_sosfilt_fold(sos, zi, "xs")
    bwd = _ep3_sosfilt_fold(sos, zi, "list_reverse(ys)")

    return (
        SQL_EV
        + f"""
, mb AS (
  SELECT user_id, minute,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS clicks,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS errors,
         COUNT(*)::BIGINT AS total
  FROM ev GROUP BY user_id, minute
), rk AS (
  SELECT user_id, clicks, errors, total,
         row_number() OVER (PARTITION BY user_id ORDER BY minute) AS rn
  FROM mb
), k AS (
  SELECT user_id, {", ".join(knot_cols)}
  FROM rk WHERE rn <= {n} GROUP BY user_id
  HAVING COUNT(*) = {n}
), sp AS (
  SELECT *, {", ".join(sl)} FROM k
), pts AS (
  SELECT user_id, t, td, iv,
         (td - ({xi})) / ({hl}) AS s,
         {pick("y")} AS yi, {pick("y", 1)} AS yi1,
         {pick("m")} AS mi, {pick("m", 1)} AS mi1
  FROM (
    SELECT sp.*, t, t::DOUBLE AS td, {iv} AS iv
    FROM sp, unnest(range(0, {n_samp})) AS tt(t)
  )
), hv AS (
  SELECT user_id, t,
         (2.0 * (s * s * s) - 3.0 * (s * s) + 1.0) * yi
         + ((s * s * s) - 2.0 * (s * s) + s) * (mi * {hl})
         + (-2.0 * (s * s * s) + 3.0 * (s * s)) * yi1
         + ((s * s * s) - (s * s)) * (mi1 * {hl}) AS v
  FROM pts
), arr AS (
  SELECT user_id, list(v ORDER BY t) AS interp FROM hv GROUP BY user_id
), ext AS (
  SELECT user_id,
         list_transform(range(0, {padlen}), i -> 2.0 * interp[1] - interp[{padlen + 1} - i])
         || interp
         || list_transform(range(0, {padlen}),
                           i -> 2.0 * interp[{n_samp}] - interp[{n_samp - 1} - i]) AS xs
  FROM arr
), fw AS (
  SELECT user_id, {fwd} AS ys FROM ext
), sm AS (
  SELECT user_id, (list_reverse({bwd}))[{padlen + 1}:{ext_len - padlen}] AS smooth FROM fw
), thr AS (
  SELECT user_id, i, CASE WHEN smooth[i + 1] >= {_dbl(PROB_TH)} THEN 1 ELSE 0 END AS onv
  FROM sm, unnest(range(0, {n_samp})) AS tt(i)
), sbrk AS (
  SELECT user_id, i, onv,
         CASE WHEN lag(onv) OVER w IS NULL OR onv != lag(onv) OVER w THEN 1 ELSE 0 END AS b
  FROM thr WINDOW w AS (PARTITION BY user_id ORDER BY i)
), sseg AS (
  SELECT user_id, i, onv,
         SUM(b) OVER (PARTITION BY user_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM sbrk
), pred AS (
  SELECT user_id, MIN(i) AS ps, MAX(i) + 1 AS pe
  FROM sseg WHERE onv = 1 GROUP BY user_id, g HAVING COUNT(*) >= {DUR_MIN}
), gw AS (
  SELECT user_id, rn - 1 AS wi,
         CASE WHEN errors::DOUBLE / total::DOUBLE >= {_dbl(GT_ERR_FRAC)} THEN 1 ELSE 0 END AS gon
  FROM rk WHERE rn <= {n}
    AND user_id IN (SELECT user_id FROM k)
), gbrk AS (
  SELECT user_id, wi, gon,
         CASE WHEN lag(gon) OVER w IS NULL OR gon != lag(gon) OVER w THEN 1 ELSE 0 END AS b
  FROM gw WINDOW w AS (PARTITION BY user_id ORDER BY wi)
), gseg AS (
  SELECT user_id, wi, gon,
         SUM(b) OVER (PARTITION BY user_id ORDER BY wi
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM gbrk
), gt AS (
  SELECT user_id, MIN(wi) * {STEP} AS gs, (MAX(wi) + 1) * {STEP} AS ge
  FROM gseg WHERE gon = 1 GROUP BY user_id, g
), cls AS (
  SELECT p.user_id, p.ps, p.pe,
         MAX(CASE WHEN g.gs IS NULL THEN 0.0::DOUBLE ELSE
             (CASE WHEN LEAST(p.pe, g.ge) - GREATEST(p.ps, g.gs) > 0
                   THEN LEAST(p.pe, g.ge) - GREATEST(p.ps, g.gs) ELSE 0 END)::DOUBLE
             / ((p.pe - p.ps) + (g.ge - g.gs)
                - (CASE WHEN LEAST(p.pe, g.ge) - GREATEST(p.ps, g.gs) > 0
                        THEN LEAST(p.pe, g.ge) - GREATEST(p.ps, g.gs) ELSE 0 END))::DOUBLE
             END) AS best
  FROM pred p LEFT JOIN gt g ON p.user_id = g.user_id
  GROUP BY p.user_id, p.ps, p.pe
), cnt AS (
  SELECT COALESCE(SUM(CASE WHEN best >= {_dbl(IOU_TH)} THEN 1 ELSE 0 END), 0)::BIGINT AS corrects,
         COALESCE(SUM(CASE WHEN best > 0.0 AND best < {_dbl(IOU_TH)} THEN 1 ELSE 0 END), 0)::BIGINT AS deletions,
         0::BIGINT AS substitutions,
         COALESCE(SUM(CASE WHEN best = 0.0 THEN 1 ELSE 0 END), 0)::BIGINT AS insertions
  FROM cls
)
SELECT corrects, deletions, substitutions, insertions,
       CASE WHEN deletions + corrects + substitutions > 0
            THEN corrects::DOUBLE / (deletions + corrects + substitutions)::DOUBLE
            ELSE 0.0::DOUBLE END AS detection_ratio,
       CASE WHEN corrects + insertions > 0
            THEN corrects::DOUBLE / (corrects + insertions)::DOUBLE
            ELSE 0.0::DOUBLE END AS reliability,
       CASE WHEN deletions + corrects + substitutions > 0
            THEN (deletions + insertions + substitutions)::DOUBLE
                 / (deletions + corrects + substitutions)::DOUBLE
            ELSE 0.0::DOUBLE END AS erer
FROM cnt
"""
    )


@q("ep3_pipeline", _ep3_oracle_sql())
def ep3_pipeline_q(spark, sf_dir):
    """EP3 robustness pipeline end-to-end (caits/performance/evaluation.py:
    36-222): spline upsample -> Butterworth smooth -> threshold -> islands
    -> duration -> IoU classify -> DR/reliability/erer, ONE lazy plan.
    FULL oracle: DuckDB composes the proven per-stage folds (unrolled
    16-knot Thomas solve with constant-h factors, Hermite grid eval,
    zi-scaled forward+backward biquad folds with odd-reflection padding,
    islands, IoU max) reproducing every smoothed double bitwise."""
    from .plans.ep3 import ep3_pipeline

    return ep3_pipeline(_ev(spark, sf_dir))


# ------------------------------------- rolling composites (full oracle)

SQL_ROLLING_COMPOSITES = (
    SQL_PTS
    + """
, c AS (
  SELECT doc_id, off, tok,
         SUM(tok * tok) OVER (PARTITION BY doc_id ORDER BY off
                              ROWS BETWEEN 4 PRECEDING AND 3 FOLLOWING) AS s_sq,
         tok * n_tok - SUM(tok) OVER (PARTITION BY doc_id) AS ctr
  FROM pts
), c2 AS (
  SELECT doc_id, off, s_sq, ctr,
         lead(ctr) OVER (PARTITION BY doc_id ORDER BY off) AS ctr_next
  FROM c
), x AS (
  SELECT doc_id, off, s_sq,
         CASE WHEN ctr_next IS NOT NULL AND ((ctr < 0) != (ctr_next < 0))
              THEN 1 ELSE 0 END AS xing
  FROM c2
), fr AS (
  SELECT doc_id, sqrt(s_sq::DOUBLE / 8.0) AS rms,
         SUM(xing) OVER (PARTITION BY doc_id ORDER BY off
                         ROWS BETWEEN 4 PRECEDING AND 2 FOLLOWING) AS zc
  FROM x
)
SELECT doc_id,
       MAX(rms) AS rms_max, MIN(rms) AS rms_min,
       SUM(floor(rms * 1048576.0))::BIGINT AS rms_chk,
       MAX(zc)::DOUBLE / 8.0 AS zcr_max,
       SUM(zc)::DOUBLE / (COUNT(*)::DOUBLE * 8.0) AS zcr_mean,
       COUNT(*)::BIGINT AS n_frames
FROM fr GROUP BY doc_id
"""
)


@q("rolling_composites", SQL_ROLLING_COMPOSITES)
def rolling_composites(spark, sf_dir):
    """rms_max/mean/min + zcr_max/mean composites over centered rolling
    frames (caits/fe/_statistical.py:252-421 rolling composites; frame=8,
    hop=1, zero-pad RMS / edge-pad within-frame ZCR over the mean-centered
    signal). Exact: integer frame sums -> single sqrt/floor/divide; the
    mean rides as a floor-quantized checksum (a float mean of sqrts would
    be summation-order-dependent across engines)."""
    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    pts = seqs.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.posexplode("tokens").alias("off", "tok"),
    ).select("doc_id", "n_tok", F.col("off").cast("long").alias("off"), F.col("tok").cast("long").alias("tok"))
    wdoc = Window.partitionBy("doc_id")
    wsq = Window.partitionBy("doc_id").orderBy("off").rowsBetween(-4, 3)
    wl = Window.partitionBy("doc_id").orderBy("off")
    c = pts.select(
        "doc_id",
        "off",
        F.sum(F.col("tok") * F.col("tok")).over(wsq).alias("s_sq"),
        (F.col("tok") * F.col("n_tok") - F.sum("tok").over(wdoc)).alias("ctr"),
    ).withColumn("ctr_next", F.lead("ctr").over(wl))
    x = c.select(
        "doc_id",
        "off",
        "s_sq",
        F.when(
            F.col("ctr_next").isNotNull() & ((F.col("ctr") < 0) != (F.col("ctr_next") < 0)), 1
        ).otherwise(0).alias("cross"),
    )
    wzc = Window.partitionBy("doc_id").orderBy("off").rowsBetween(-4, 2)
    fr = x.select(
        "doc_id",
        F.sqrt(F.col("s_sq").cast("double") / 8.0).alias("rms"),
        F.sum("cross").over(wzc).alias("zc"),
    )
    return fr.groupBy("doc_id").agg(
        F.max("rms").alias("rms_max"),
        F.min("rms").alias("rms_min"),
        F.sum(F.floor(F.col("rms") * 1048576.0)).cast("long").alias("rms_chk"),
        (F.max("zc").cast("double") / 8.0).alias("zcr_max"),
        (F.sum("zc").cast("double") / (F.count("*").cast("double") * 8.0)).alias("zcr_mean"),
        F.count("*").cast("long").alias("n_frames"),
    )


# -------------------------- codec round-trip: invariant-backed oracle
# (re-registering the name replaces the round-1 rows-only entry)


@q(
    "codec_roundtrip",
    SQL_PTS
    + """
SELECT COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
       COUNT(DISTINCT doc_id)::BIGINT AS n_ok,
       SUM(tok)::BIGINT AS dec_sum,
       SUM(tok * (off + 1))::BIGINT AS dec_wsum
FROM pts
""",
)
def codec_roundtrip_oracled(spark, sf_dir):
    """Gorilla/ΔΔ round-trip (north_rule: exact token-array equality) with
    an INDEPENDENT oracle: Spark computes token sums + position-weighted
    sums FROM THE DECODED ARRAYS (decode(encode(tokens))), DuckDB recomputes
    the same sums from the source text — the two agree only if every token
    round-trips in order. n_ok additionally pins the per-doc equality flag.
    """
    from .functions.codecs import tokens_roundtrip_sums

    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    res = tokens_roundtrip_sums(seqs)
    return res.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("long").alias("n_ok"),
        F.sum("dec_sum").cast("long").alias("dec_sum"),
        F.sum("dec_wsum").cast("long").alias("dec_wsum"),
    )


# ------------------- compressed tiers: decode-verified invariant oracle

SQL_COMPRESSED_TIERS = (
    SQL_PTS
    + """
, t1 AS (
  SELECT doc_id, (off // 32) * 32 AS window_start,
         SUM(tok)::DOUBLE / COUNT(*)::DOUBLE AS t_mean
  FROM pts GROUP BY doc_id, (off // 32) * 32
), t2 AS (
  SELECT doc_id, (window_start // 256) * 256 AS window_start
  FROM t1 GROUP BY doc_id, (window_start // 256) * 256
), u AS (
  SELECT 1 AS tier, doc_id, COUNT(*) AS pts FROM t1 GROUP BY doc_id
  UNION ALL
  SELECT 2 AS tier, doc_id, COUNT(*) AS pts FROM t2 GROUP BY doc_id
)
SELECT tier, COUNT(*)::BIGINT AS n_segments, SUM(pts)::BIGINT AS n_points,
       SUM(pts)::BIGINT AS n_points_decoded, 0::BIGINT AS value_mismatches
FROM u GROUP BY tier
"""
)


@q("compressed_tiers", SQL_COMPRESSED_TIERS)
def compressed_tiers_oracled(spark, sf_dir):
    """Compressed tier segments with the decode laps INSIDE the plan:
    decompress(compress(tiers)) joined back against the original tier rows
    on (doc_id, tier, window_start) comparing t_mean BITWISE. The oracle
    pins segment/point counts and asserts decoded-count parity + zero
    mismatches — codec corruption of any point breaks the hash."""
    from .functions.codecs import compress_tiers, decompress_tiers

    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    # tier rows feed BOTH the original-side digest and the encode->decode
    # lap; persisting them stops the tokenize+cascade upstream running
    # twice (tier rows are ~w x smaller than the raw tokens, so this is
    # cache-the-small-intermediate, not cache-the-input). Tracked so
    # harnesses can release the cache after their consuming action.
    from .caching import tracked_persist

    tiers = tracked_persist(cascade(seqs, w=32, fanout=8, tiers=2))
    segs = compress_tiers(tiers)
    dec = decompress_tiers(segs)
    # join-free multiset equality: per tier, compare a collision-resistant
    # row digest sum of the DECODED rows against the originals. The digest
    # is xxhash64(doc_id, window_start, floor(value*2^20)) masked to 40
    # bits (sum of <=2^24 40-bit terms cannot overflow int64), so cross-doc
    # value swaps or compensating +/-1-quantum corruptions do NOT cancel —
    # any per-point corruption flips value_mismatches. Two tiny aggregates
    # replace a full_outer join of the point sets.
    mask = F.lit((1 << 40) - 1)

    def _digest(ws_col: str, val_col: str):
        chk = F.floor(F.col(val_col) * 1048576.0).cast("long")
        h = F.xxhash64(
            F.col("doc_id").cast("string"), F.col(ws_col).cast("long"), chk
        )
        return h.bitwiseAND(mask)

    orig = tiers.groupBy("tier").agg(
        F.countDistinct("doc_id").cast("long").alias("n_segments"),
        F.count("*").cast("long").alias("n_points"),
        F.sum(_digest("window_start", "t_mean")).alias("_h_sum"),
    )
    d = dec.groupBy("tier").agg(
        F.count("*").cast("long").alias("n_points_decoded"),
        F.sum(_digest("window_start", "value")).alias("_dh_sum"),
    )
    j = orig.join(d, "tier")
    return j.select(
        "tier",
        "n_segments",
        "n_points",
        "n_points_decoded",
        (
            F.when(
                (F.col("_h_sum") == F.col("_dh_sum"))
                & (F.col("n_points") == F.col("n_points_decoded")),
                0,
            ).otherwise(1)
        ).cast("long").alias("value_mismatches"),
    )


@q("compression_ratio", None)
def compression_ratio(spark, sf_dir):
    """Byte-level compression inventory (blob sizes are bitstream facts —
    not SQL-expressible; counts/values are oracled by compressed_tiers)."""
    from .functions.codecs import compress_tiers

    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    tiers = cascade(seqs, w=32, fanout=8, tiers=2)
    segs = compress_tiers(tiers)
    return segs.groupBy("tier").agg(
        F.count("*").alias("n_segments"),
        F.sum("n_points").alias("n_points"),
        F.sum(F.octet_length("ts_blob") + F.octet_length("val_blob")).alias("bytes_compressed"),
        F.sum(F.col("n_points") * 16).alias("bytes_raw"),
    )


# --------------------------------- round-2 augmentation parity queries

SQL_TOKLIST = """
WITH tok AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_transform(range(1, length(text) + 1), i -> unicode(text[i])) AS toks,
         length(text)::BIGINT AS n
  FROM documents WHERE length(text) > 0
)
"""

# DuckDB twin of operators/augment._HASH_U32
def _duck_u32(i) -> str:
    return f"('0x' || substr(md5(doc_id || ':' || {i}), 1, 8))::BIGINT"


@q(
    "augment_pool_quantize",
    SQL_TOKLIST
    + """
, f AS (SELECT doc_id, toks, n FROM tok
        WHERE n >= 2 AND list_aggregate(toks, 'min') < list_aggregate(toks, 'max')),
p AS (
  SELECT doc_id,
    list_transform(range(0, n), i ->
      list_reduce(list_prepend(0::BIGINT, toks[((i // 4) * 4 + 1):((i // 4) * 4 + 4)]),
                  (a, v) -> a + v)::DOUBLE
      / len(toks[((i // 4) * 4 + 1):((i // 4) * 4 + 4)])::DOUBLE) AS pool,
    list_transform(toks, x ->
      list_aggregate(toks, 'min')::DOUBLE +
      floor((x::DOUBLE - list_aggregate(toks, 'min')::DOUBLE)
            / (list_aggregate(toks, 'max')::DOUBLE - list_aggregate(toks, 'min')::DOUBLE)
            * 9.0 + 0.5)
      * (list_aggregate(toks, 'max')::DOUBLE - list_aggregate(toks, 'min')::DOUBLE) / 9.0) AS quant
  FROM f
)
SELECT doc_id,
  list_reduce(list_prepend(0::BIGINT, list_transform(pool, v -> floor(v * 1048576.0)::BIGINT)),
              (a, b) -> a + b) AS pool_chk,
  list_reduce(list_prepend(0::BIGINT, list_transform(quant, v -> floor(v * 1048576.0)::BIGINT)),
              (a, b) -> a + b) AS quant_chk
FROM p
""",
)
def augment_pool_quantize(spark, sf_dir):
    """pool_ts(ave, 4) + quantize_ts(uniform, 10) parity
    (caits/augmentation/_augment_1d.py:383,:438) — exact: integer window
    sums / min-max grid, floor-quantized checksums, full oracle."""
    from .operators.augment import pool_ave, quantize_uniform

    seqs = tokenize_documents(load(spark, sf_dir, "documents")).filter(
        F.expr("size(tokens) >= 2 AND array_min(tokens) < array_max(tokens)")
    )
    chk = "aggregate(transform(tokens_aug, v -> cast(floor(v * 1048576.0) as bigint)), cast(0 as bigint), (a, b) -> a + b)"
    p = pool_ave(seqs).select("doc_id", F.expr(chk).alias("pool_chk"), "tokens")
    qn = quantize_uniform(p.select("doc_id", "tokens", "pool_chk")).select(
        "doc_id", "pool_chk", F.expr(chk).alias("quant_chk")
    )
    return qn.select("doc_id", "pool_chk", "quant_chk")


@q(
    "augment_crop_resize",
    SQL_TOKLIST
    + f"""
, f AS (SELECT doc_id, toks, n FROM tok WHERE n >= 32),
c AS (
  SELECT doc_id, toks, n,
         (1 + ({_duck_u32(0)} % greatest(n - 32 + 1, 1)))::BIGINT AS cstart
  FROM f
)
, rz AS (
  SELECT doc_id, cstart, toks,
    list_transform(range(0, 64), j ->
      floor((
        toks[(floor(j * (n - 1) / 63.0::DOUBLE))::BIGINT + 1]::DOUBLE
          * (1.0 - (j * (n - 1) / 63.0::DOUBLE - floor(j * (n - 1) / 63.0::DOUBLE)))
        + toks[least((floor(j * (n - 1) / 63.0::DOUBLE))::BIGINT + 2, n)]::DOUBLE
          * (j * (n - 1) / 63.0::DOUBLE - floor(j * (n - 1) / 63.0::DOUBLE))
      ) * 1048576.0)::BIGINT) AS rlist
  FROM c
)
SELECT doc_id,
  list_reduce(list_prepend(0::BIGINT, toks[cstart:(cstart + 31)]), (a, b) -> a + b) AS crop_sum,
  list_reduce(list_prepend(0::BIGINT, rlist), (a, b) -> a + b) AS resize_chk
FROM rz
""",
)
def augment_crop_resize(spark, sf_dir):
    """crop_ts(32) + resize_ts(64) parity (_augment_1d.py:205,:503):
    hash-deterministic crop start, linear-interp resize, full oracle."""
    from .operators.augment import crop_ts, resize_linear

    seqs = tokenize_documents(load(spark, sf_dir, "documents")).filter(
        F.expr("size(tokens) >= 32")
    )
    c = crop_ts(seqs).select(
        "doc_id",
        F.expr(
            "aggregate(tokens_aug, cast(0 as bigint), (a, b) -> a + cast(b as bigint))"
        ).alias("crop_sum"),
        "tokens",
    )
    r = resize_linear(c.select("doc_id", "tokens", "crop_sum")).select(
        "doc_id",
        "crop_sum",
        F.expr(
            "aggregate(transform(tokens_aug, v -> cast(floor(v * 1048576.0) as bigint)), "
            "cast(0 as bigint), (a, b) -> a + b)"
        ).alias("resize_chk"),
    )
    return r


def _drift_sql() -> str:
    from .operators.augment import MAX_DRIFT, N_ANCHORS

    K = N_ANCHORS - 1
    walk = ["0.0::DOUBLE"]
    for j in range(1, N_ANCHORS):
        walk.append(f"({walk[-1]} + ({_duck_u32(j)} / 4294967296.0 - 0.5))")
    anchors = "[" + ", ".join(walk) + "]"
    pos = f"(i * {K}.0::DOUBLE / greatest(n - 1, 1))"
    j0 = f"least(floor({pos})::BIGINT, {K - 1})"
    frac = f"({pos} - {j0})"
    mx = f"list_aggregate(list_transform({anchors}, a -> abs(a)), 'max')"
    dr = (
        f"(({anchors})[{j0} + 1] * (1.0 - {frac}) + ({anchors})[{j0} + 2] * {frac})"
        f" / nullif({mx}, 0.0) * {MAX_DRIFT}"
        f" * (list_aggregate(toks, 'max')::DOUBLE - list_aggregate(toks, 'min')::DOUBLE)"
    )
    return (
        SQL_TOKLIST
        + f"""
SELECT doc_id,
  list_reduce(list_prepend(0::BIGINT, list_transform(range(0, n), i ->
    floor((toks[i + 1]::DOUBLE + {dr}) * 1048576.0)::BIGINT)), (a, b) -> a + b) AS drift_chk
FROM tok WHERE n >= 2
"""
    )


@q("augment_drift", _drift_sql())
def augment_drift(spark, sf_dir):
    """drift_ts additive parity (_augment_1d.py:259, tsaug Drift): smooth
    hash-random walk through 5 knots, normalized, scaled by range, added.
    Full oracle (identical walk in DuckDB)."""
    from .operators.augment import drift_additive

    seqs = tokenize_documents(load(spark, sf_dir, "documents")).filter(
        F.expr("size(tokens) >= 2")
    )
    d = drift_additive(seqs)
    return d.select(
        "doc_id",
        F.expr(
            "aggregate(transform(tokens_aug, v -> cast(floor(v * 1048576.0) as bigint)), "
            "cast(0 as bigint), (a, b) -> a + b)"
        ).alias("drift_chk"),
    )


@q(
    "augment_dropout",
    SQL_PTS
    + """
, d AS (
  SELECT doc_id, off,
         CASE WHEN ('0x' || substr(md5(doc_id || ':' || off), 1, 8))::BIGINT
                   / 4294967296.0 < 0.05
              THEN NULL ELSE tok END AS v
  FROM pts
), f AS (
  SELECT doc_id, off,
         coalesce(last_value(v IGNORE NULLS)
                    OVER (PARTITION BY doc_id ORDER BY off
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS val
  FROM d
)
SELECT doc_id, SUM(val)::BIGINT AS drop_sum,
       SUM(CASE WHEN val = 0 THEN 0 ELSE 1 END)::BIGINT AS n_nonzero
FROM f GROUP BY doc_id
""",
)
def augment_dropout(spark, sf_dir):
    """dropout_ts(p=0.05, fill='ffill') parity (_augment_1d.py:324):
    hash-deterministic drop positions, forward-fill, leading drops -> 0.
    Full oracle."""
    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    pts = seqs.select("doc_id", F.posexplode("tokens").alias("off", "tok")).select(
        "doc_id", F.col("off").cast("long").alias("off"), F.col("tok").cast("long").alias("tok")
    )
    u = "conv(substring(md5(cast(concat(doc_id, ':', off) as binary)), 1, 8), 16, 10)"
    d = pts.withColumn(
        "v", F.when(F.expr(f"{u} / 4294967296.0") < 0.05, None).otherwise(F.col("tok"))
    )
    w = Window.partitionBy("doc_id").orderBy("off").rowsBetween(Window.unboundedPreceding, 0)
    f = d.withColumn("val", F.coalesce(F.last("v", ignorenulls=True).over(w), F.lit(0)))
    return f.groupBy("doc_id").agg(
        F.sum("val").cast("long").alias("drop_sum"),
        F.sum(F.when(F.col("val") == 0, 0).otherwise(1)).cast("long").alias("n_nonzero"),
    )


@q("augment_timewarp_stretch", None)
def augment_timewarp_stretch(spark, sf_dir):
    """time_warp_ts + time_stretch_ts + pitch_shift_ts (_augment_1d.py:598,
    :708,:743) via phase vocoder — FFT/interp kernels, rows-only; kernels
    numpy-verified in tests/test_dsp2.py. Also carries the HPSS mask
    digest (caits/hpss.py:9-299 — harmonic/percussive separation of the
    same STFT family): ``hpss_chk`` = floor-quantized sum of both
    separated components on the doc's leading samples, making hpss
    driver-visible without a new registry row (mask complementarity and
    reconstruction stay bitwise-tested in tests/test_dsp2.py)."""
    import pandas as pd

    from .functions.dsp2 import (
        hpss_signal,
        pitch_shift_ts,
        time_stretch_ts,
        time_warp_np,
    )

    seqs = tokenize_documents(load(spark, sf_dir, "documents"))

    @worker_kernel
    def kernel(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["tokens"]):
                x = np.asarray(toks, dtype=np.float64)
                if x.size < 300:
                    continue
                seed = int(hashlib_md5_u32(doc_id))
                tw = time_warp_np(x, seed=seed)
                st = time_stretch_ts(x, 1.25)
                ps = pitch_shift_ts(x)
                h, p = hpss_signal(x[:512])
                rows.append(
                    (
                        doc_id,
                        float(np.floor(tw * 1024.0).sum()),
                        int(st.size),
                        float(np.floor(st[:64] * 1024.0).sum()),
                        float(np.floor(ps[:64] * 1024.0).sum()),
                        float(np.floor(h * 1024.0).sum() + np.floor(p * 1024.0).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "warp_chk", "stretch_len", "stretch_chk",
                         "pitch_chk", "hpss_chk"],
            )

    return seqs.mapInPandas(
        kernel,
        schema="doc_id string, warp_chk double, stretch_len int, "
               "stretch_chk double, pitch_chk double, hpss_chk double",
    )


def hashlib_md5_u32(doc_id: str) -> int:
    """Same doc-hash family as operators/augment (seed channel ':tw')."""
    import hashlib

    return int(hashlib.md5(f"{doc_id}:tw".encode()).hexdigest()[:8], 16)


def _pcen_chk_sql() -> str:
    """DuckDB expression folding functions/dsp2.pcen_docs' exact recursion:
    first-order IIR smoother + sqrt-form DRC (alpha=1, r=1/2 — division
    and sqrt are correctly rounded, so same literals + same op order =
    bitwise-equal doubles), accumulating sum(floor(v*Q)). List accumulator
    [M, chk] for the same struct-mutation reason as _sosfilt_chk_sql."""
    from .functions.dsp2 import PCEN_DELTA, PCEN_EPS, PCEN_Q, PCEN_S

    m_new = f"({_dbl(1.0 - PCEN_S)} * acc[1] + {_dbl(PCEN_S)} * e[1])"
    v = f"(sqrt(e[1] / ({_dbl(PCEN_EPS)} + {m_new}) + {_dbl(PCEN_DELTA)}) - sqrt({_dbl(PCEN_DELTA)}))"
    return (
        "(list_reduce(list_prepend([0.0::DOUBLE, 0.0::DOUBLE], "
        "list_transform(toks, t -> [t::DOUBLE, 0.0::DOUBLE])), "
        f"(acc, e) -> [{m_new}, acc[2] + floor({v} * {_dbl(PCEN_Q)})]))[2]::BIGINT"
    )


SQL_PCEN = f"""
WITH tok AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_transform(range(1, length(text) + 1), i -> unicode(text[i])) AS toks
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, {_pcen_chk_sql()} AS pcen_chk
FROM tok
"""


@q("pcen_exact", SQL_PCEN)
def pcen_exact(spark, sf_dir):
    """PCEN with a FULL oracle (caits/fe/_pcen.py:18-138; the round-4
    rows-only pcen_hpss split per plan — HPSS stays numpy-parity-tested in
    tests/test_dsp2.py): the per-doc token stream is the energy signal,
    the Wang et al. 2017 smoother is the same first-order-IIR family
    already oracled for butterworth_sosfilt, and gain=1/power=0.5 keep
    the DRC stage inside correctly-rounded IEEE ops so the quantized
    checksum matches DuckDB's identical fold bitwise. All JVM-side
    (F.aggregate higher-order fold), no Python in the hot path."""
    from .functions.dsp2 import pcen_docs

    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    return pcen_docs(seqs)


@q("resample_polyphase", None)
def resample_polyphase(spark, sf_dir):
    """Polyphase HQ resampling (caits/core/_core_resample.py:14-76, wired
    into the wav-loader path) — windowed-sinc FIR, rows-only; sinusoid
    parity in tests/test_dsp2.py."""
    import pandas as pd

    from .functions.dsp2 import resample_poly

    seqs = tokenize_documents(load(spark, sf_dir, "documents"))

    @worker_kernel
    def kernel(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["tokens"]):
                x = np.asarray(toks, dtype=np.float64)
                if x.size < 64:
                    continue
                y = resample_poly(x, 2, 3)  # 2/3 rate
                rows.append((doc_id, int(y.size), float(np.floor(y * 1024.0).sum())))
            yield pd.DataFrame(rows, columns=["doc_id", "out_len", "res_chk"])

    return seqs.mapInPandas(kernel, schema="doc_id string, out_len int, res_chk double")


@q(
    "lm_perplexity",
    r"""
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), x -> x != '') AS ws
  FROM documents
), f AS (
  SELECT doc_id, ws FROM w WHERE len(ws) >= 2
), e AS (
  SELECT doc_id, i AS pos, ws[i + 1] AS w1, ws[i + 2] AS w2
  FROM f, unnest(range(0, len(ws) - 1)) AS t(i)
), cb AS (
  SELECT w1, w2, COUNT(*)::BIGINT AS c12 FROM e GROUP BY w1, w2
), c1 AS (
  SELECT w1, COUNT(*)::BIGINT AS c1 FROM e GROUP BY w1
), v AS (
  SELECT COUNT(DISTINCT x)::BIGINT AS v FROM (SELECT unnest(ws) AS x FROM w)
), s AS (
  SELECT e.doc_id, e.pos, ln((cb.c12 + 1)::DOUBLE / (c1.c1 + v.v)::DOUBLE) AS term
  FROM e JOIN cb USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
), g AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams, list(term ORDER BY pos) AS terms
  FROM s GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       list_reduce(list_prepend(0::BIGINT,
         list_transform(terms, t -> floor(-t * 1048576.0)::BIGINT)),
         (a, b) -> a + b) AS nll_q
FROM g
""",
)
def lm_perplexity(spark, sf_dir):
    """LM-based quality filtering (operators/textstats.lm_bigram_nll):
    add-1-smoothed bigram model fit on the corpus, per-doc NLL via a
    position-ordered fold of floor-quantized terms (pure int64 sum —
    JVM and DuckDB ln() differ in the last ulp on some inputs, so raw
    double folds are not cross-engine exact)."""
    return lm_bigram_nll(load(spark, sf_dir, "documents"))


@q(
    "bloom_prune_orders",
    """
WITH bp AS (
  SELECT (('0x' || substr(md5(i::VARCHAR || ':' || c_custkey::VARCHAR), 1, 15))::BIGINT
          % 16384) AS pos
  FROM customer, unnest([0, 1, 2]) AS t(i)
  WHERE c_acctbal > 5000
), b AS (
  SELECT (pos // 32) AS block, bit_or(1::BIGINT << (pos % 32)::INT) AS bits
  FROM bp GROUP BY 1
), arr AS (
  SELECT list(coalesce(b.bits, 0) ORDER BY g.blk) AS bs
  FROM generate_series(0, 511) AS g(blk) LEFT JOIN b ON b.block = g.blk
), mem AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 5000
), p AS (
  SELECT o.o_custkey,
         (o.o_custkey IN (SELECT c_custkey FROM mem)) AS is_member,
         ((arr.bs[((('0x' || substr(md5('0:' || o.o_custkey::VARCHAR), 1, 15))::BIGINT % 16384) // 32) + 1]
             & (1::BIGINT << ((('0x' || substr(md5('0:' || o.o_custkey::VARCHAR), 1, 15))::BIGINT % 16384) % 32)::INT)) != 0
          AND (arr.bs[((('0x' || substr(md5('1:' || o.o_custkey::VARCHAR), 1, 15))::BIGINT % 16384) // 32) + 1]
             & (1::BIGINT << ((('0x' || substr(md5('1:' || o.o_custkey::VARCHAR), 1, 15))::BIGINT % 16384) % 32)::INT)) != 0
          AND (arr.bs[((('0x' || substr(md5('2:' || o.o_custkey::VARCHAR), 1, 15))::BIGINT % 16384) // 32) + 1]
             & (1::BIGINT << ((('0x' || substr(md5('2:' || o.o_custkey::VARCHAR), 1, 15))::BIGINT % 16384) % 32)::INT)) != 0
         ) AS bloom_pass
  FROM orders o, arr
)
SELECT COUNT(*)::BIGINT AS n_probe,
       SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END)::BIGINT AS n_pass,
       SUM(CASE WHEN is_member THEN 1 ELSE 0 END)::BIGINT AS n_true,
       SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END)::BIGINT AS n_fp,
       SUM(CASE WHEN is_member AND NOT bloom_pass THEN 1 ELSE 0 END)::BIGINT AS n_missed
FROM p
""",
)
def bloom_prune_orders(spark, sf_dir):
    """Bloom-filter join pruning (operators/bloom.py): build a 16 Kbit /
    3-hash filter over high-balance customers (distributed bit_or build,
    2 KB bitset collected control-plane), probe every order with a pure
    narrow-map bit test, and report probe/pass/true/false-positive counts
    plus n_missed (MUST be 0 — Bloom filters have no false negatives).
    The sketch is md5-derived so DuckDB reproduces the identical bitset
    and the identical false positives."""
    from .operators.bloom import bloom_bitset, bloom_build, bloom_test_col

    cust = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    bits = bloom_bitset(bloom_build(cust.select("c_custkey")))
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    mem = cust.select("c_custkey").distinct()
    p = (
        orders.join(F.broadcast(mem), orders.o_custkey == mem.c_custkey, "left")
        .withColumn("is_member", F.col("c_custkey").isNotNull())
        .withColumn("bloom_pass", bloom_test_col(bits, F.col("o_custkey")))
    )
    return p.agg(
        F.count("*").alias("n_probe"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias("n_pass"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0)).alias("n_true"),
        F.sum(F.when(F.col("bloom_pass") & ~F.col("is_member"), 1).otherwise(0)).alias("n_fp"),
        F.sum(F.when(F.col("is_member") & ~F.col("bloom_pass"), 1).otherwise(0)).alias("n_missed"),
    )


@q(
    "session_window_native",
    SQL_EV
    + """
, s AS (
  SELECT user_id, us,
         CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 60000000
              THEN 1 ELSE 0 END AS brk
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), g AS (
  SELECT user_id, us,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
)
SELECT user_id, MIN(us) AS sess_start_us, MAX(us) + 60000000 AS sess_end_us,
       COUNT(*)::BIGINT AS n_events
FROM g GROUP BY user_id, sid
""",
)
def session_window_native(spark, sf_dir):
    """Spark's NATIVE session windows (F.session_window, 60 s gap) — the
    built-in operator behind the manual islands `sessionization` query;
    probe-verified semantics: an event extends the session when its gap to
    the previous event is <= the window gap, session end = last + gap.
    One shuffle on the grouping key; oracle = lag/cumsum islands."""
    ev = load(spark, sf_dir, "events")
    epoch = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {c})"
    g = ev.groupBy("user_id", F.session_window("ts", "60 seconds")).agg(
        F.count("*").alias("n_events")
    )
    return g.select(
        "user_id",
        F.expr(epoch.format(c="session_window.start")).alias("sess_start_us"),
        F.expr(epoch.format(c="session_window.end")).alias("sess_end_us"),
        "n_events",
    )


@q(
    "json_props_stats",
    """
SELECT event_type,
       COUNT(*)::BIGINT AS n,
       SUM(json_extract(props, '$.k')::BIGINT)::BIGINT AS k_sum,
       MAX(json_extract(props, '$.k')::BIGINT)::BIGINT AS k_max,
       SUM(CASE WHEN json_extract(props, '$.k') IS NULL THEN 1 ELSE 0 END)::BIGINT AS k_null
FROM events GROUP BY event_type
""",
)
def json_props_stats(spark, sf_dir):
    """Semi-structured props column: JSON path extraction (get_json_object
    -> JVM Jackson, no Python) aggregated per event type — the §2.7
    string-function surface over the events table's JSON payload."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("k_sum"),
        F.max(k).alias("k_max"),
        F.sum(F.when(k.isNull(), 1).otherwise(0)).alias("k_null"),
    )


@q(
    "asof_join_events",
    """
WITH r0 AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'view'
), r AS (
  SELECT user_id, ts, event_id, value FROM r0 WHERE rn = 1
), l AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
)
SELECT l.user_id, l.event_id AS l_event_id, epoch_us(l.ts) AS l_ts_us,
       r.event_id AS r_event_id, epoch_us(r.ts) AS r_ts_us, r.value AS r_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
""",
)
def asof_join_events(spark, sf_dir):
    """As-of join (operators/asof.py): every click matched to the same
    user's most recent view at or before it. Spark side is the union-tag +
    ordered-window LOCF form (one shuffle, no range-join blow-up); oracle
    is DuckDB's native ASOF LEFT JOIN. Right side deduped to one row per
    (user, ts) — max event_id — so the nearest-tie is deterministic on
    both engines."""
    return _asof_clicks_to_views(spark, sf_dir, F.desc("event_id"), "backward")


def _asof_clicks_to_views(spark, sf_dir, tie_order, direction: str):
    """Clicks as-of joined to the same user's views; the views are deduped
    to one row per (user, ts) by ``tie_order`` on event_id."""
    from .operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    wdedup = Window.partitionBy("user_id", "ts").orderBy(tie_order)
    r = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(wdedup))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    left = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    j = asof_join(left, r, direction=direction)
    epoch = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {c})"
    return j.select(
        "user_id",
        F.col("event_id").alias("l_event_id"),
        F.expr(epoch.format(c="ts")).alias("l_ts_us"),
        F.col("r_event_id"),
        F.expr(epoch.format(c="r_ts")).alias("r_ts_us"),
        F.col("r_value"),
    )


@q(
    "asof_bucketed_events",
    """
WITH r0 AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id ASC) AS rn
  FROM events WHERE event_type = 'view'
), r AS (
  SELECT user_id, ts, event_id, value FROM r0 WHERE rn = 1
), l AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
)
SELECT l.user_id, l.event_id AS l_event_id, epoch_us(l.ts) AS l_ts_us,
       r.event_id AS r_event_id, epoch_us(r.ts) AS r_ts_us, r.value AS r_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
""",
)
def asof_bucketed_events(spark, sf_dir):
    """FORWARD as-of join: every click matched to the same user's next
    view at or after it, by the same key-partitioned operator as
    asof_join_events. The query no longer time-buckets; the name is kept
    only for the registry. Oracle is DuckDB's native forward
    ASOF LEFT JOIN (l.ts <= r.ts). Right side deduped to one row per
    (user, ts) — min event_id — so the nearest-tie is deterministic."""
    return _asof_clicks_to_views(spark, sf_dir, F.asc("event_id"), "forward")


def _fir_exact_taps() -> list[float]:
    # the resample_poly(up=2, down=3) prototype: 145-tap windowed sinc,
    # cutoff 1/3 of the upsampled Nyquist, gain 2
    from .functions.dsp2 import _sinc_fir

    return [float(v) for v in (_sinc_fir(145, 1.0 / 3.0) * 2.0)]


def _resample_fir_sql() -> str:
    return (
        SQL_TOKLIST
        + f"""
, f AS (
  SELECT doc_id, toks[1:64] AS x, {_dbl_list(_fir_exact_taps())} AS h FROM tok WHERE n >= 64
), y AS (
  SELECT doc_id,
    list_transform(range(0, 43), j ->
      floor(list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(0, 64), s ->
        CASE WHEN 72 + j*3 - s*2 BETWEEN 0 AND 144
        THEN x[s + 1]::DOUBLE * h[72 + j*3 - s*2 + 1]
        ELSE 0.0::DOUBLE END)), (a, b) -> a + b) * 1048576.0::DOUBLE)::BIGINT) AS yq
  FROM f
)
SELECT doc_id, 43::BIGINT AS out_len,
       list_reduce(list_prepend(0::BIGINT, yq), (a, b) -> a + b) AS fir_chk
FROM y
"""
    )


@q("resample_fir_exact", _resample_fir_sql())
def resample_fir_exact(spark, sf_dir):
    """Polyphase 2/3-rate resampling as a FULL oracle (the strided form of
    caits/core/_core_resample.py:14-76's quality path): y_j = sum_s
    x[s] * h[delay + j*down - s*up] over the first 64 tokens, the exact
    per-output dot products resample_poly's zero-stuff+convolve+decimate
    computes (parity pinned in tests/test_dsp2.py). Shared float-literal
    taps and identical ascending-s left folds on both engines make every
    output bitwise equal, so the polyphase family is NOT inherently
    rows-only — only the FFT fast path is. All JVM-side codegen: the taps
    and input slice are materialized as columns so the HOF lambdas read
    them per row instead of re-building per element."""
    taps = _fir_exact_taps()
    h_arr = spark_doubles(taps)
    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    d = seqs.filter(F.size("tokens") >= 64).select(
        "doc_id",
        F.expr("slice(tokens, 1, 64)").alias("x"),
        F.expr(h_arr).alias("h"),
    )
    yq = (
        "transform(sequence(0, 42), j -> cast(floor(aggregate(sequence(0, 63), "
        "cast(0.0 as double), "
        "(a, s) -> a + (CASE WHEN 72 + j*3 - s*2 BETWEEN 0 AND 144 "
        "THEN cast(element_at(x, s + 1) as double) * element_at(h, 72 + j*3 - s*2 + 1) "
        "ELSE cast(0.0 as double) END)) * cast(1048576.0 as double)) as bigint))"
    )
    return d.select(
        "doc_id",
        F.lit(43).cast("long").alias("out_len"),
        F.expr(f"aggregate({yq}, cast(0 as bigint), (a, b) -> a + b)").alias("fir_chk"),
    )


# ------------------------------- minor parity set: peaks, split, shuffle,
# hann-weighted rolling window


@q(
    "find_peaks_minutes",
    SQL_EV
    + """
, mb AS (
  SELECT user_id, minute, COUNT(*)::BIGINT AS cnt
  FROM ev GROUP BY user_id, minute
), chg AS (
  SELECT user_id, minute, cnt,
         CASE WHEN lag(cnt) OVER w IS NULL OR cnt != lag(cnt) OVER w THEN 1 ELSE 0 END AS brk
  FROM mb WINDOW w AS (PARTITION BY user_id ORDER BY minute)
), grp AS (
  SELECT user_id, minute, cnt,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY minute
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM chg
), isl AS (
  SELECT user_id, g, MIN(cnt) AS val FROM grp GROUP BY user_id, g
), nb AS (
  SELECT user_id, val,
         lag(val) OVER (PARTITION BY user_id ORDER BY g) AS pv,
         lead(val) OVER (PARTITION BY user_id ORDER BY g) AS nv
  FROM isl
)
SELECT user_id,
       SUM(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL AND val > pv AND val > nv
                THEN 1 ELSE 0 END)::BIGINT AS n_peaks
FROM nb GROUP BY user_id
""",
)
def find_peaks_minutes(spark, sf_dir):
    """find_peaks over each user's minute-count series (scipy default
    semantics: strictly-greater local maxima, plateaus count once, edges
    excluded — realized as equal-value islands compared to neighbor
    islands). Full oracle; semantics cross-checked against
    find_peaks_simple in tests."""
    ev = _ev(spark, sf_dir)
    mb = ev.groupBy("user_id", "minute").agg(F.count("*").cast("long").alias("cnt"))
    w = Window.partitionBy("user_id").orderBy("minute")
    chg = mb.withColumn(
        "brk",
        F.when(
            F.lag("cnt").over(w).isNull() | (F.col("cnt") != F.lag("cnt").over(w)), 1
        ).otherwise(0),
    )
    wg = Window.partitionBy("user_id").orderBy("minute").rowsBetween(Window.unboundedPreceding, 0)
    grp = chg.withColumn("g", F.sum("brk").over(wg))
    isl = grp.groupBy("user_id", "g").agg(F.min("cnt").alias("val"))
    wi = Window.partitionBy("user_id").orderBy("g")
    nb = isl.select(
        "user_id",
        "val",
        F.lag("val").over(wi).alias("pv"),
        F.lead("val").over(wi).alias("nv"),
    )
    return nb.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("pv").isNotNull()
                & F.col("nv").isNotNull()
                & (F.col("val") > F.col("pv"))
                & (F.col("val") > F.col("nv")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_peaks")
    )


@q(
    "stratified_split",
    """
WITH rk AS (
  SELECT lang, CAST(doc_id AS VARCHAR) AS doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR) || ':split'),
                            CAST(doc_id AS VARCHAR)) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang, COUNT(*)::BIGINT AS total,
       SUM(CASE WHEN rn <= ceil(0.8::DOUBLE * n) THEN 1 ELSE 0 END)::BIGINT AS n_train,
       SUM(CASE WHEN rn > ceil(0.8::DOUBLE * n) THEN 1 ELSE 0 END)::BIGINT AS n_test
FROM rk GROUP BY lang
""",
)
def stratified_split(spark, sf_dir):
    """Deterministic stratified train/test split (train_test_split parity,
    sklearn-style EXACT per-stratum counts): docs ranked by a split hash
    within each label, first ceil(80%) -> train. Hash ranking replaces
    np.random permutation — reproducible, partitioning-invariant, and
    cross-engine (unlike sampleBy's Bernoulli draw)."""
    d = load(spark, sf_dir, "documents").select(
        "lang", F.col("doc_id").cast("string").alias("doc_id")
    )
    w = Window.partitionBy("lang").orderBy(F.md5(F.concat_ws("", F.col("doc_id"), F.lit(":split"))), "doc_id")
    rk = d.select(
        "lang",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("lang")).alias("n"),
    )
    thr = F.ceil(F.lit(0.8).cast("double") * F.col("n"))
    return rk.groupBy("lang").agg(
        F.count("*").cast("long").alias("total"),
        F.sum(F.when(F.col("rn") <= thr, 1).otherwise(0)).cast("long").alias("n_train"),
        F.sum(F.when(F.col("rn") > thr, 1).otherwise(0)).cast("long").alias("n_test"),
    )


@q(
    "shuffle_ranks",
    """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || ':shuffle42'),
                          CAST(doc_id AS VARCHAR)) AS shuffle_rank
FROM documents
""",
)
def shuffle_ranks(spark, sf_dir):
    """shuffle(seed) parity (DatasetArray.shuffle): a seeded deterministic
    permutation as hash-order ranks — same permutation in any engine, any
    partitioning.

    Two-phase global rank (r7 verdict's one weak-scale flag): the r7 shape
    was ``row_number() OVER (ORDER BY md5...)`` — an unpartitioned window
    that sorts every doc id in ONE task. Now: range-partition on the
    (md5 key, doc_id) total order, per-partition ``row_number`` (window
    partitioned by the stamped partition id — no single-partition sort
    anywhere), then add each partition's broadcast offset (prefix sums of
    a control-plane collect of num-partitions count rows — the bloom/IVF
    pattern). (md5, doc_id) is a UNIQUE total order and range partitions
    are contiguous ascending, so offset + local rank reproduces the global
    row_number EXACTLY — oracle hash-identical at all SFs."""
    d = load(spark, sf_dir, "documents").select(F.col("doc_id").cast("string").alias("doc_id"))
    key = F.md5(F.concat_ws("", F.col("doc_id"), F.lit(":shuffle42")))
    part = (
        d.select("doc_id", key.alias("_k"))
        .repartitionByRange(F.col("_k"), F.col("doc_id"))
        .withColumn("_pid", F.spark_partition_id())
    )
    # stamped pids feed the offset counts AND the rank pass: persist so
    # both read the same materialization (tracked; released by harnesses)
    from .caching import tracked_persist

    part = tracked_persist(part)
    counts = part.groupBy("_pid").agg(F.count("*").alias("_n")).collect()
    offs: list = []
    acc = 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offs.extend((F.lit(int(r["_pid"])), F.lit(acc)))
        acc += int(r["_n"])
    off_map = F.create_map(*offs) if offs else F.create_map()
    w = Window.partitionBy("_pid").orderBy("_k", "doc_id")
    return part.select(
        "doc_id",
        "_pid",
        F.row_number().over(w).cast("long").alias("_rn"),
    ).select(
        "doc_id",
        (F.coalesce(F.element_at(off_map, F.col("_pid")), F.lit(0)) + F.col("_rn"))
        .cast("long")
        .alias("shuffle_rank"),
    )


def _hann_literals() -> list[float]:
    from .functions.dsp import hann

    return [float(v) for v in hann(16)]


def _hann_window_sql() -> str:
    w = _hann_literals()  # divided by sum(w), the Spark side's left-to-right sum
    return (
        SQL_TOKLIST
        + f"""
, f AS (SELECT doc_id, toks, n FROM tok WHERE n >= 16),
wins AS (
  SELECT doc_id,
    list_transform(range(0, ((n - 16) // 8)::BIGINT + 1), wi ->
      list_reduce(list_prepend(0.0::DOUBLE,
        list_transform(range(1, 17), k ->
          toks[wi * 8 + k]::DOUBLE * ({_dbl_list(w)})[k])), (a, b) -> a + b)
      / {_dbl(sum(w))}) AS wm
  FROM f
)
SELECT doc_id, len(wm)::BIGINT AS n_windows,
  list_reduce(list_prepend(0::BIGINT, list_transform(wm, v -> floor(v * 1048576.0)::BIGINT)),
              (a, b) -> a + b) AS hann_chk
FROM wins
"""
    )


@q("rolling_window_hann", _hann_window_sql())
def rolling_window_hann(spark, sf_dir):
    """rolling_window_df with win_type='hann' (caits/windowing.py:24-27,
    pandas .rolling(win_type).mean() semantics: hann-weighted window mean,
    full windows, step 8). Weights are shared float literals; the weighted
    sum is an identical left fold in both engines — full oracle."""
    seqs = tokenize_documents(load(spark, sf_dir, "documents")).filter(
        F.expr("size(tokens) >= 16")
    )
    w = _hann_literals()
    wsum = repr(float(sum(w)))
    arr = spark_doubles(w)
    expr = f"""
    transform(sequence(0, cast((size(tokens) - 16) / 8 as int)), wi ->
      aggregate(zip_with(slice(tokens, wi * 8 + 1, 16), {arr},
                         (x, w) -> cast(x as double) * w),
                cast(0.0 as double), (a, b) -> a + b) / cast('{wsum}' as double))
    """
    out = seqs.withColumn("wm", F.expr(expr))
    return out.select(
        "doc_id",
        F.expr("size(wm)").cast("long").alias("n_windows"),
        F.expr(
            "aggregate(transform(wm, v -> cast(floor(v * 1048576.0) as bigint)), "
            "cast(0 as bigint), (a, b) -> a + b)"
        ).alias("hann_chk"),
    )


@q(
    "kendall_tau",
    SQL_EV
    + """
, mb AS (
  SELECT user_id, minute, SUM(cents)::BIGINT AS c
  FROM ev GROUP BY user_id, minute
), rk AS (
  SELECT user_id, minute, c,
         row_number() OVER (PARTITION BY user_id ORDER BY minute) AS rn
  FROM mb
), k AS (
  SELECT user_id, minute, c FROM rk WHERE rn <= 50
), pairs AS (
  SELECT a.user_id,
         CASE WHEN (a.minute < b.minute AND a.c < b.c) OR (a.minute > b.minute AND a.c > b.c)
              THEN 1 ELSE 0 END AS conc,
         CASE WHEN (a.minute < b.minute AND a.c > b.c) OR (a.minute > b.minute AND a.c < b.c)
              THEN 1 ELSE 0 END AS disc,
         CASE WHEN a.c = b.c THEN 1 ELSE 0 END AS tie_y
  FROM k a JOIN k b ON a.user_id = b.user_id AND a.minute < b.minute
), s AS (
  SELECT user_id, COUNT(*)::BIGINT AS n0,
         SUM(conc)::BIGINT AS nc, SUM(disc)::BIGINT AS nd,
         SUM(tie_y)::BIGINT AS ty
  FROM pairs GROUP BY user_id
)
SELECT user_id, nc, nd,
       (nc - nd)::DOUBLE / (sqrt(n0::DOUBLE) * sqrt((n0 - ty)::DOUBLE)) AS tau_b
FROM s WHERE n0 - ty > 0
""",
)
def kendall_tau(spark, sf_dir):
    """Kendall tau-b (caits/eda/correlation.py method='kendall') between
    time order and value per user, over the first 50 minute buckets —
    EXACT concordant/discordant/tie counts from an intra-user pair join
    (bounded at 50^2 pairs/user: never corpus^2; x-ties impossible since
    minutes are the distinct key, so tau-b's x-tie term vanishes)."""
    ev = _ev(spark, sf_dir)
    mb = ev.groupBy("user_id", "minute").agg(F.sum("cents").cast("long").alias("c"))
    w = Window.partitionBy("user_id").orderBy("minute")
    k = mb.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 50).drop("rn")
    a = k.alias("a")
    b = k.alias("b")
    am, bm = F.col("a.minute"), F.col("b.minute")
    ac, bc = F.col("a.c"), F.col("b.c")
    pairs = a.join(b, (F.col("a.user_id") == F.col("b.user_id")) & (am < bm)).select(
        F.col("a.user_id").alias("user_id"),
        F.when(((am < bm) & (ac < bc)) | ((am > bm) & (ac > bc)), 1).otherwise(0).alias("conc"),
        F.when(((am < bm) & (ac > bc)) | ((am > bm) & (ac < bc)), 1).otherwise(0).alias("disc"),
        F.when(ac == bc, 1).otherwise(0).alias("tie_y"),
    )
    s = pairs.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n0"),
        F.sum("conc").cast("long").alias("nc"),
        F.sum("disc").cast("long").alias("nd"),
        F.sum("tie_y").cast("long").alias("ty"),
    )
    tau = (F.col("nc") - F.col("nd")).cast("double") / (
        F.sqrt(F.col("n0").cast("double")) * F.sqrt((F.col("n0") - F.col("ty")).cast("double"))
    )
    return s.filter(F.col("n0") - F.col("ty") > 0).select("user_id", "nc", "nd", tau.alias("tau_b"))


def _eepd_sos():
    from .functions.iir import butter_sos

    bps = [butter_sos(1, (float(f), float(f + 2)), 32.0, "bandpass") for f in (2, 4, 6, 8)]
    lp = butter_sos(2, 10.0, 32.0, "lowpass")
    return bps, lp


def _eepd_env_fold(bp, lp) -> str:
    """DuckDB fold: demeaned sample list -> per-sample chained biquads
    (bandpass -> square -> lowpass), accumulator = 4 filter states ++ the
    envelope emitted so far (LIST accumulator per the DuckDB struct-
    mutation workaround; appending keeps it ONE O(n) fold per band, not a
    prefix-fold per element). Result slice [5:] is the envelope list."""

    b0, b1, b2, _, a1, a2 = bp[0]
    c0, c1, c2, _, d1, d2 = lp[0]
    YB = f"({_dbl(b0)} * e[1] + acc[1])"
    EE = f"({YB} * {YB})"
    YL = f"({_dbl(c0)} * {EE} + acc[3])"
    return (
        "(list_reduce(list_prepend([0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE], "
        "list_transform(xs, v -> [v])), "
        f"(acc, e) -> [{_dbl(b1)} * e[1] - {_dbl(a1)} * {YB} + acc[2], "
        f"{_dbl(b2)} * e[1] - {_dbl(a2)} * {YB}, "
        f"{_dbl(c1)} * {EE} - {_dbl(d1)} * {YL} + acc[4], "
        f"{_dbl(c2)} * {EE} - {_dbl(d2)} * {YL}] "
        f"|| acc[5:] || [{YL}]))[5:]"
    )


def _eepd_sql() -> str:
    bps, lp = _eepd_sos()
    folds = ",\n         ".join(
        f"{_eepd_env_fold(bp, lp)} AS env{i + 1}" for i, bp in enumerate(bps)
    )
    return (
        SQL_TOKLIST
        + f"""
, sl AS (
  SELECT doc_id, toks[1:192] AS t2 FROM tok WHERE n >= 128
), mu_t AS (
  SELECT doc_id, t2, list_aggregate(t2, 'sum')::DOUBLE / len(t2)::DOUBLE AS mu FROM sl
), xs_t AS (
  SELECT doc_id, list_transform(t2, t -> t::DOUBLE - mu) AS xs FROM mu_t
), env_t AS (
  SELECT doc_id,
         {folds}
  FROM xs_t
), u AS (
  SELECT doc_id, b.band,
         CASE b.band WHEN 1 THEN env1 WHEN 2 THEN env2 WHEN 3 THEN env3 ELSE env4 END AS env
  FROM env_t, unnest([1, 2, 3, 4]) AS b(band)
), pts AS (
  SELECT doc_id, band, i, env[i + 1] AS val
  FROM u, unnest(range(0, len(env))) AS t(i)
), chg AS (
  SELECT doc_id, band, i, val,
         CASE WHEN lag(val) OVER w IS NULL OR val != lag(val) OVER w THEN 1 ELSE 0 END AS brk
  FROM pts WINDOW w AS (PARTITION BY doc_id, band ORDER BY i)
), grp AS (
  SELECT doc_id, band, i, val,
         SUM(brk) OVER (PARTITION BY doc_id, band ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM chg
), isl AS (
  SELECT doc_id, band, g, MIN(val) AS val FROM grp GROUP BY doc_id, band, g
), nb AS (
  SELECT doc_id, band, val,
         lag(val) OVER wi AS pv, lead(val) OVER wi AS nv
  FROM isl WINDOW wi AS (PARTITION BY doc_id, band ORDER BY g)
), cnt AS (
  SELECT doc_id, band,
         SUM(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL AND val > pv AND val > nv
                  THEN 1 ELSE 0 END)::INTEGER AS c
  FROM nb GROUP BY doc_id, band
)
SELECT doc_id,
       MAX(CASE WHEN band = 1 THEN c END) AS eepd_b1,
       MAX(CASE WHEN band = 2 THEN c END) AS eepd_b2,
       MAX(CASE WHEN band = 3 THEN c END) AS eepd_b3,
       MAX(CASE WHEN band = 4 THEN c END) AS eepd_b4
FROM cnt GROUP BY doc_id
"""
    )


@q("eepd_counts", _eepd_sql())
def eepd_counts(spark, sf_dir):
    """envelope_energy_peak_detection, causal variant with a FULL oracle
    (caits/fe/_statistical.py:476-538): per band [fcl, fcl+2) Hz at fs=32,
    order-1 Butterworth bandpass (forward sosfilt, zero state) -> square
    -> order-2 lowpass at 10 Hz -> peak count (scipy default semantics,
    plateaus once, edges excluded). The reference's zero-phase filtfilt
    variant is not implemented: this query composes the proven
    forward-biquad fold so DuckDB reproduces every
    envelope double bitwise. Max-normalization is dropped on BOTH sides —
    it cannot change peak count. Demeaning uses the exact integer token
    sum (S/n as one double division) so both engines subtract the
    identical mean. First 192 tokens of each doc with >= 128 tokens."""
    import pandas as pd

    from .functions.iir import sosfilt
    from .functions.spectral2 import find_peaks_simple

    bps, lp = _eepd_sos()
    seqs = tokenize_documents(load(spark, sf_dir, "documents"))

    @worker_kernel
    def kernel(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["tokens"]):
                t2 = np.asarray(toks, dtype=np.int64)
                if t2.size < 128:
                    continue
                t2 = t2[:192]
                mu = int(np.sum(t2, dtype=np.int64)) / t2.size
                x = t2.astype(np.float64) - mu
                counts = []
                for bp in bps:
                    y = sosfilt(bp, x)
                    env = sosfilt(lp, y * y)
                    counts.append(int(find_peaks_simple(env).size))
                rows.append((doc_id, *counts))
            yield pd.DataFrame(
                rows, columns=["doc_id", "eepd_b1", "eepd_b2", "eepd_b3", "eepd_b4"]
            )

    return seqs.mapInPandas(
        kernel, schema="doc_id string, eepd_b1 int, eepd_b2 int, eepd_b3 int, eepd_b4 int"
    )


SQL_MULTICHANNEL = (
    SQL_TOKLIST
    + f"""
, two AS (
  SELECT doc_id, n,
         list_transform(toks, t -> t::DOUBLE) AS ch0,
         list_transform(toks, t -> (t - 100)::DOUBLE) AS ch1
  FROM tok
), mc AS (
  SELECT doc_id, n, ch0, ch1,
         list_transform(range(1, n + 1), i -> sqrt(ch0[i] * ch0[i] + ch1[i] * ch1[i])) AS mag,
         list_transform(range(1, n + 1), i -> abs(ch0[i]) + abs(ch1[i])) AS sma,
         floor(n::DOUBLE / {float(NATIVE_SR)!r}::DOUBLE * {float(TARGET_SR)!r}::DOUBLE)::INT AS n_rs
  FROM two
), ps AS (
  SELECT *, list_transform(range(0, n_rs), j ->
      CASE WHEN n_rs > 1 AND n > 1
           THEN j::DOUBLE * (n - 1)::DOUBLE / (n_rs - 1)::DOUBLE
           ELSE 0.0::DOUBLE END) AS pos
  FROM mc
), rs AS (
  SELECT doc_id, mag, sma, n_rs,
    list_transform(pos, p -> ch0[floor(p)::INT + 1] + (p - floor(p)) *
      (ch0[least(floor(p)::INT + 2, n)] - ch0[floor(p)::INT + 1])) AS rs0,
    list_transform(pos, p -> ch1[floor(p)::INT + 1] + (p - floor(p)) *
      (ch1[least(floor(p)::INT + 2, n)] - ch1[floor(p)::INT + 1])) AS rs1
  FROM ps
)
SELECT doc_id,
  list_reduce(list_prepend(0::BIGINT, list_transform(mag, v -> floor(v * 1048576.0)::BIGINT)),
              (a, b) -> a + b) AS mag_chk,
  list_reduce(list_prepend(0::BIGINT, list_transform(sma, v -> v::BIGINT)),
              (a, b) -> a + b) AS sma_sum,
  n_rs::BIGINT AS n_rs,
  list_reduce(list_prepend(0::BIGINT, list_transform(rs0, v -> floor(v * 1048576.0)::BIGINT)),
              (a, b) -> a + b) AS rs0_chk,
  list_reduce(list_prepend(0::BIGINT, list_transform(rs1, v -> floor(v * 1048576.0)::BIGINT)),
              (a, b) -> a + b) AS rs1_chk
FROM rs
"""
)


@q("multichannel_features", SQL_MULTICHANNEL)
def multichannel_features(spark, sf_dir):
    """Multi-channel surface end-to-end (caits/properties.py:74-108
    magnitude_signal/sma_signal, caits/preprocessing.py:63-100
    resample_2d): a 2-channel signal built from the token stream (ch0 =
    tok, ch1 = tok - 100, mixed signs), cross-channel magnitude + SMA per
    sample, and a per-channel linear 100 Hz -> 64 Hz resample — all native
    array expressions (functions/multichannel.py), verified by quantized
    checksums (sqrt doubles are IEEE-identical cross-engine; SMA is exact
    integer)."""
    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    two = seqs.select(
        "doc_id",
        F.expr("transform(tokens, t -> cast(t as double))").alias("ch0"),
        F.expr("transform(tokens, t -> cast(t - 100 as double))").alias("ch1"),
    )
    m = two.withColumn("mag", magnitude_signal("ch0", "ch1")).withColumn(
        "sma", sma_signal("ch0", "ch1")
    )
    r = resample_2d(m)
    qfold = (
        "aggregate(transform({a}, v -> cast(floor(v * 1048576.0) as bigint)), "
        "cast(0 as bigint), (x, y) -> x + y)"
    )
    return r.select(
        "doc_id",
        F.expr(qfold.format(a="mag")).alias("mag_chk"),
        F.expr(
            "aggregate(transform(sma, v -> cast(v as bigint)), cast(0 as bigint), "
            "(x, y) -> x + y)"
        ).alias("sma_sum"),
        F.col("n_rs").cast("long").alias("n_rs"),
        F.expr(qfold.format(a="ch0_rs")).alias("rs0_chk"),
        F.expr(qfold.format(a="ch1_rs")).alias("rs1_chk"),
    )


def _convolve_sql() -> str:
    from .functions.dsp import hann
    from .operators.augment import CONV_SIZE

    size = CONV_SIZE
    w = hann(size)
    w = w / w.sum()
    half = size // 2
    lits = _dbl_list(w)
    conv = (
        f"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(0, {size}), k -> "
        f"({lits})[k + 1] * "
        f"CASE WHEN i + k - {half} >= 0 AND i + k - {half} < n "
        f"THEN toks[i + k - {half} + 1]::DOUBLE ELSE 0.0::DOUBLE END)), (a, b) -> a + b)"
    )
    return (
        SQL_TOKLIST
        + f"""
, cl AS (
  SELECT doc_id, list_transform(range(0, n), i -> {conv}) AS conv FROM tok
)
SELECT doc_id,
  list_reduce(list_prepend(0::BIGINT, list_transform(conv, v -> floor(v * 1048576.0)::BIGINT)),
              (a, b) -> a + b) AS conv_chk
FROM cl
"""
    )


def _substr_spans_sql(keep_first: bool = False) -> str:
    # shared CTE chain: docs -> stride-1 w-char window hashes -> windows
    # whose hash repeats anywhere in the corpus (keep_first exempts each
    # hash's (doc, off)-smallest occurrence) -> per-doc merged maximal
    # spans [s, e). Pure integer/string ops — hash-exact cross-engine.
    if keep_first:
        dw = """
  SELECT doc_id, o FROM (
    SELECT w.doc_id, w.o,
           row_number() OVER (PARTITION BY w.h ORDER BY w.doc_id, w.o) AS rn
    FROM wins w JOIN dup USING (h)
  ) WHERE rn > 1
"""
    else:
        dw = "  SELECT w.doc_id, w.o FROM wins w JOIN dup USING (h)\n"
    return f"""
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text AS t, length(text)::BIGINT AS n_tok
  FROM documents
), ex AS (
  SELECT doc_id, t, unnest(range(1, n_tok - {SUBSTR_W} + 2)) AS i FROM d WHERE n_tok >= {SUBSTR_W}
), wins AS (
  SELECT doc_id, (i - 1)::BIGINT AS o,
         ('0x' || substr(md5(substr(t, i::INT, {SUBSTR_W})), 1, 15))::BIGINT AS h
  FROM ex
), dup AS (
  SELECT h FROM wins GROUP BY h HAVING COUNT(*) > 1
), dw AS (
{dw}), isl AS (
  SELECT doc_id, o,
         CASE WHEN max(o + {SUBSTR_W}) OVER (PARTITION BY doc_id ORDER BY o
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR o > max(o + {SUBSTR_W}) OVER (PARTITION BY doc_id ORDER BY o
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS ni
  FROM dw
), grp AS (
  SELECT doc_id, o, sum(ni) OVER (PARTITION BY doc_id ORDER BY o
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
), spans AS (
  SELECT doc_id, island, min(o)::BIGINT AS s, (max(o) + {SUBSTR_W})::BIGINT AS e
  FROM grp GROUP BY doc_id, island
)
"""


def _substr_stats_sql(keep_first: bool = False) -> str:
    return (
        _substr_spans_sql(keep_first)
        + """
, agg AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_spans, SUM(e - s)::BIGINT AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id, d.n_tok,
       COALESCE(a.n_spans, 0)::BIGINT AS n_spans,
       COALESCE(a.dup_tokens, 0)::BIGINT AS dup_tokens,
       COALESCE(a.dup_tokens, 0)::DOUBLE / d.n_tok::DOUBLE AS dup_frac
FROM d LEFT JOIN agg a USING (doc_id) WHERE d.n_tok > 0
"""
    )


@q("dedup_substring", _substr_stats_sql())
def dedup_substring(spark, sf_dir):
    """Substring-level dedup inventory (Lee et al. 2022): per doc, merged
    maximal spans of 25-token windows that repeat anywhere in the corpus —
    the standard training-data pass doc-level dedup misses. Linear window
    hashing (no pairing), operators/dedup.py duplicated_spans."""
    return substring_dedup_stats(load(spark, sf_dir, "documents"))


@q(
    "sequence_packing",
    f"""
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         length(text)::BIGINT AS n_tok
  FROM documents WHERE length(text) > 0
), c AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end
  FROM d
), p AS (
  SELECT doc_id, source, n_tok, (cum_end - n_tok)::BIGINT AS cum_start,
         ((cum_end - n_tok) // {PACK_SEQ_LEN})::BIGINT AS pack_id,
         ((cum_end - n_tok) % {PACK_SEQ_LEN})::BIGINT AS pack_off,
         ((cum_end - 1) // {PACK_SEQ_LEN})::BIGINT AS last_pack
  FROM c
)
SELECT doc_id, source, n_tok, cum_start, pack_id, pack_off,
       (last_pack != pack_id) AS spans_packs,
       (last_pack - pack_id + 1)::BIGINT AS n_packs_touched
FROM p
""",
)
def sequence_packing(spark, sf_dir):
    """GPT-style training-sequence packing (concatenate docs per shard in
    deterministic order, chop at 512-token boundaries): per doc, the pack
    and offset of its first token plus boundary-straddle facts. The
    cumulative sum runs PER SOURCE SHARD — all shards in parallel, no
    global single-task prefix sum — operators/packing.py."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").alias("n_tok")
    )
    return pack_sequences(docs)


def _hist_sql() -> str:
    w, nb, vmax = HIST_W, HIST_NB, HIST_VMAX
    folds = ",\n         ".join(
        f"list_reduce(list_prepend(0::BIGINT, list_transform(toks[wi*{w}+1 : wi*{w}+{w}], "
        f"t -> CASE WHEN least((t * {nb}) // {vmax}, {nb - 1}) = {b} THEN 1 ELSE 0 END::BIGINT)), "
        f"(a, c) -> a + c) AS b{b}"
        for b in range(nb)
    )
    arr = "[" + ", ".join(f"b{b}" for b in range(nb)) + "]"
    total = " + ".join(f"b{b}" for b in range(nb))
    return (
        SQL_TOKLIST
        + f"""
, sp AS (
  SELECT doc_id, toks, unnest(range(0, cast(ceil(n / {float(w)!r}) AS INT))) AS wi
  FROM tok
), hw AS (
  SELECT doc_id, (wi * {w})::BIGINT AS window_start,
         {folds}
  FROM sp
), tot AS (
  SELECT *, ({total})::BIGINT AS total FROM hw
)
SELECT *, len(list_filter(list_transform(range(0, {nb}),
         i -> list_reduce(list_prepend(0::BIGINT, ({arr})[1:i+1]), (a, c) -> a + c)),
         cum -> cum * 2 < total))::BIGINT AS median_bucket
FROM tot
"""
    )


@q("rollup_histogram", _hist_sql())
def rollup_histogram_q(spark, sf_dir):
    """Mergeable fixed-boundary histogram rollup (operators/rollup.py
    rollup_histogram): per 32-token window, exact counts in 16 equal-width
    value buckets over the ASCII band + window total + median bucket — the continuous
    aggregate that gives approximate quantiles at any retention tier
    (fixed-boundary histograms re-aggregate exactly: tier k+1 counts are
    the elementwise sums of its children's).

    The Arrow bincount kernel is per-token O(1), where a native HOF fold
    pays O(n_buckets) interpreted lambda work: interleaved A/B 1.01 s vs
    1.37 s at sf0.1, and 0.87 s vs 2.4 s on the 255 M-token stress input
    (BENCH/BASELINE.md r7 numbers)."""
    seqs = tokenize_documents(load(spark, sf_dir, "documents"))
    return rollup_histogram(seqs)


# n_tokens^alpha as the cross-engine-exact sqrt chain (mixing.pow_alpha_sql
# is the single source of truth for the nesting; alpha = ALPHA_Q16/2^16)
from .operators.mixing import pow_alpha_sql as _pow_alpha_sql

_POW_ALPHA_SQL = _pow_alpha_sql()


@q(
    "source_mixing_weights",
    f"""
WITH s AS (
  SELECT source, COUNT(*)::BIGINT AS n_docs,
         SUM(length(text))::BIGINT AS n_tokens
  FROM documents WHERE length(text) > 0 GROUP BY source
), p AS (
  SELECT source, n_docs, n_tokens,
         floor({_POW_ALPHA_SQL} * 1048576.0)::BIGINT AS w_q
  FROM s
)
SELECT source, n_docs, n_tokens, w_q,
       w_q::DOUBLE / (SELECT SUM(w_q) FROM p)::DOUBLE AS mix_weight
FROM p
""",
)
def source_mixing_weights(spark, sf_dir):
    """Temperature-based source mixing (the public CC100/XLM-R multinomial
    sampling recipe): per-source weight proportional to n_tokens^alpha
    with alpha DYADIC (45875/2^16 = 0.699997, see mixing.ALPHA_Q16) so
    n^alpha is a sqrt-multiply chain — every op IEEE correctly-rounded,
    bitwise identical in Spark and DuckDB at any n, unlike libm pow()
    (r6 fix: pow's 1-ulp slack flipped floor boundaries for n >~ 10^11).
    Each weight is floor(x*2^20)-quantized BEFORE normalizing (the
    lm_perplexity precedent); the normalizer is an exact integer sum
    broadcast back. One map-side-combined groupBy — no other shuffle."""
    from .operators.mixing import pow_alpha

    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    s = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_tokens"),
    )
    p = s.withColumn(
        "w_q",
        F.floor(pow_alpha(F.col("n_tokens")) * F.lit(1048576.0)).cast("long"),
    )
    tot = p.agg(F.sum("w_q").alias("_tot"))
    return p.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "w_q",
        (F.col("w_q").cast("double") / F.col("_tot").cast("double")).alias("mix_weight"),
    )


@q(
    "gopher_rules",
    """
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), x -> x != '') AS ws
  FROM documents
), st AS (
  SELECT doc_id,
         len(ws)::BIGINT AS n_words,
         list_reduce(list_prepend(0::BIGINT, list_transform(ws, w -> length(w)::BIGINT)),
                     (a, b) -> a + b) AS sum_wlen,
         list_reduce(list_prepend(0::BIGINT, list_transform(ws, w ->
           (length(w) - length(replace(replace(replace(w, '#', ''), '!', ''), '?', '')))::BIGINT)),
                     (a, b) -> a + b) AS n_sym,
         len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::BIGINT AS n_alpha,
         len(list_filter(ws, w -> w IN ('the', 'and', 'of', 'to', 'a', 'in', 'is')))::BIGINT AS n_stop
  FROM base WHERE len(ws) > 0
)
SELECT doc_id, n_words,
  sum_wlen::DOUBLE / n_words::DOUBLE AS mean_wlen,
  (n_words BETWEEN 50 AND 100000) AS ok_nwords,
  (sum_wlen::DOUBLE / n_words::DOUBLE >= CAST(3.0 AS DOUBLE)
   AND sum_wlen::DOUBLE / n_words::DOUBLE <= CAST(10.0 AS DOUBLE)) AS ok_wlen,
  (n_sym::DOUBLE / n_words::DOUBLE <= CAST(0.1 AS DOUBLE)) AS ok_symbols,
  (n_alpha::DOUBLE / n_words::DOUBLE >= CAST(0.8 AS DOUBLE)) AS ok_alpha,
  (n_stop >= 2) AS ok_stopwords,
  ((n_words BETWEEN 50 AND 100000)
   AND (sum_wlen::DOUBLE / n_words::DOUBLE >= CAST(3.0 AS DOUBLE)
        AND sum_wlen::DOUBLE / n_words::DOUBLE <= CAST(10.0 AS DOUBLE))
   AND (n_sym::DOUBLE / n_words::DOUBLE <= CAST(0.1 AS DOUBLE))
   AND (n_alpha::DOUBLE / n_words::DOUBLE >= CAST(0.8 AS DOUBLE))
   AND (n_stop >= 2)) AS keep
FROM st
""",
)
def gopher_rules_q(spark, sf_dir):
    """Gopher-family rule-set quality filter (published public thresholds:
    word count, mean word length, symbol ratio, alpha-word fraction,
    stopword presence) — operators/textstats.py gopher_rules, pure
    columnar, per-rule booleans + composite keep."""
    return gopher_rules(load(spark, sf_dir, "documents"))


@q("substring_dedup_keepfirst", _substr_stats_sql(keep_first=True))
def substring_dedup_keepfirst(spark, sf_dir):
    """Keep-one substring dedup (the Lee et al. paper semantics): each
    duplicated window's canonical (doc, off)-smallest occurrence is exempt
    from removal, so exactly one copy of every duplicated region survives;
    spans are merged over the remaining occurrences only. The row_number
    runs over the already-restricted duplicated rows, not the corpus."""
    return substring_dedup_stats(load(spark, sf_dir, "documents"), keep_first=True)


@q(
    "decontamination",
    f"""
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text AS t, source,
         length(text)::BIGINT AS n_tok
  FROM documents
), tw AS (
  SELECT doc_id, ('0x' || substr(md5(substr(t, i::INT, {SUBSTR_W})), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, t, unnest(range(1, n_tok - {SUBSTR_W} + 2)) AS i FROM d
        WHERE source NOT IN ('src0', 'src1') AND n_tok >= {SUBSTR_W})
), eh AS (
  SELECT DISTINCT ('0x' || substr(md5(substr(t, i::INT, {SUBSTR_W})), 1, 15))::BIGINT AS h
  FROM (SELECT t, unnest(range(1, n_tok - {SUBSTR_W} + 2)) AS i FROM d
        WHERE source IN ('src0', 'src1') AND n_tok >= {SUBSTR_W})
), tot AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_windows FROM tw GROUP BY doc_id
), hit AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_contaminated
  FROM tw WHERE h IN (SELECT h FROM eh) GROUP BY doc_id
)
SELECT b.doc_id,
  COALESCE(tot.n_windows, 0)::BIGINT AS n_windows,
  COALESCE(hit.n_contaminated, 0)::BIGINT AS n_contaminated,
  CASE WHEN COALESCE(tot.n_windows, 0) > 0
       THEN COALESCE(hit.n_contaminated, 0)::DOUBLE / tot.n_windows::DOUBLE
       ELSE 0.0::DOUBLE END AS contam_frac
FROM (SELECT DISTINCT doc_id FROM d WHERE source NOT IN ('src0', 'src1')) b
LEFT JOIN tot USING (doc_id) LEFT JOIN hit USING (doc_id)
""",
)
def decontamination(spark, sf_dir):
    """Benchmark decontamination (public GPT-3/PaLM n-gram overlap method):
    treat sources src0/src1 as the eval set, score every training doc by
    the fraction of its 25-token windows found anywhere in the eval set —
    operators/dedup.py contamination_scores (distinct'd eval hashes,
    semi join, linear in training tokens)."""
    docs = load(spark, sf_dir, "documents")
    ev = docs.filter(F.col("source").isin("src0", "src1"))
    tr = docs.filter(~F.col("source").isin("src0", "src1"))
    return contamination_scores(tr, ev)


SQL_BM25 = f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), x -> x != '') AS ws
  FROM documents
), dl_all AS (
  SELECT doc_id, len(ws)::BIGINT AS dl FROM base
), stats AS (
  SELECT COUNT(*)::BIGINT AS n_docs, SUM(dl)::BIGINT AS sum_dl FROM dl_all
), ex AS (
  SELECT doc_id, len(ws)::BIGINT AS dl, unnest(ws) AS w FROM base
), tf AS (
  SELECT doc_id, w, COUNT(*)::BIGINT AS tf, MIN(dl)::BIGINT AS dl
  FROM ex WHERE w IN ({", ".join(f"'{t}'" for t in BM25_TERMS)}) GROUP BY doc_id, w
), dft AS (
  SELECT w, COUNT(*)::BIGINT AS df FROM tf GROUP BY w
), scored AS (
  SELECT tf.doc_id,
         CAST({BM25_TERM_Q} AS BIGINT) AS term_q
  FROM tf JOIN dft USING (w) CROSS JOIN stats
), per_doc AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_hit_terms, SUM(term_q)::BIGINT AS bm25_q
  FROM scored GROUP BY doc_id
)
SELECT b.doc_id,
       COALESCE(p.n_hit_terms, 0)::BIGINT AS n_hit_terms,
       COALESCE(p.bm25_q, 0)::BIGINT AS bm25_q
FROM (SELECT DISTINCT doc_id FROM base) b LEFT JOIN per_doc p USING (doc_id)
"""


@q("bm25_scores", SQL_BM25)
def bm25_scores_q(spark, sf_dir):
    """Okapi BM25 keyword relevance over the corpus for a fixed query-term
    set (operators/textstats.py bm25_scores) — Lucene idf + k1/b
    saturation, per-term contributions floor(x*2^20)-quantized before the
    per-doc sum; the scoring expression string is shared verbatim with the
    DuckDB oracle."""
    return bm25_scores(load(spark, sf_dir, "documents"))


def _substr_clean_sql() -> str:
    return (
        _substr_spans_sql()
        + """
, gapsq AS (
  SELECT doc_id,
         COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0)::BIGINT AS ks,
         s AS ke
  FROM spans
), tailq AS (
  SELECT doc_id, max(e)::BIGINT AS ks, NULL::BIGINT AS ke FROM spans GROUP BY doc_id
), segs AS (
  SELECT g.doc_id, g.ks, COALESCE(g.ke, d.n_tok) AS ke, d.t
  FROM (SELECT * FROM gapsq UNION ALL SELECT * FROM tailq) g JOIN d USING (doc_id)
  WHERE COALESCE(g.ke, d.n_tok) > g.ks
), pieces AS (
  SELECT doc_id,
         string_agg(substr(t, (ks + 1)::INT, (ke - ks)::INT), '' ORDER BY ks) AS clean_text
  FROM segs GROUP BY doc_id
), spd AS (
  SELECT DISTINCT doc_id, 1 AS hasdup FROM spans
)
SELECT d.doc_id, d.n_tok,
       length(CASE WHEN s.hasdup IS NULL THEN d.t ELSE COALESCE(p.clean_text, '') END)::BIGINT
         AS clean_len,
       md5(CASE WHEN s.hasdup IS NULL THEN d.t ELSE COALESCE(p.clean_text, '') END)
         AS clean_md5
FROM d LEFT JOIN pieces p USING (doc_id) LEFT JOIN spd s USING (doc_id)
WHERE d.n_tok > 0
"""
    )


@q("substring_dedup_clean", _substr_clean_sql())
def substring_dedup_clean(spark, sf_dir):
    """The removal mask APPLIED: duplicated spans cut out, kept segments
    stitched in offset order (operators/dedup.py apply_substring_dedup);
    verified by length + md5 of the cleaned text per doc."""
    c = apply_substring_dedup(load(spark, sf_dir, "documents"))
    return c.select(
        "doc_id",
        "n_tok",
        "clean_len",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
    )


@q("augment_convolve", _convolve_sql())
def augment_convolve(spark, sf_dir):
    """convolve_ts hann(7) 'same' parity (_augment_1d.py:144) — weighted
    sums over centered windows with zero-padded edges; shared float-literal
    kernel, identical left folds: full oracle."""
    from .operators.augment import convolve_hann

    c = convolve_hann(tokenize_documents(load(spark, sf_dir, "documents")))
    return c.select(
        "doc_id",
        F.expr(
            "aggregate(transform(tokens_aug, v -> cast(floor(v * 1048576.0) as bigint)), "
            "cast(0 as bigint), (a, b) -> a + b)"
        ).alias("conv_chk"),
    )


# ---------------------------------------------- round-5: segment dedup,
# corpus n-gram inventory, cluster-centroid curation

SQL_SEGMENT_DEDUP = f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, string_split(text, ' ') AS w
  FROM documents WHERE len(string_split(text, ' ')) > 0
), segs AS (
  SELECT doc_id,
         array_to_string(w[si*{SEG_WORDS}+1 : si*{SEG_WORDS}+{SEG_WORDS}], ' ') AS seg
  FROM base, UNNEST(range(0, CAST(ceil(len(w) / {float(SEG_WORDS)!r}) AS INT))) t(si)
), dup AS (
  SELECT seg FROM segs GROUP BY seg HAVING COUNT(*) > 1
)
SELECT s.doc_id,
       COUNT(*)::BIGINT AS n_segs,
       SUM(CASE WHEN d.seg IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dup_segs,
       SUM(CASE WHEN d.seg IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         / COUNT(*)::DOUBLE AS dup_seg_frac
FROM segs s LEFT JOIN dup d USING (seg)
GROUP BY s.doc_id
"""


@q("segment_dedup", SQL_SEGMENT_DEDUP)
def segment_dedup_q(spark, sf_dir):
    """CCNet/RefinedWeb-style repeated-segment inventory
    (operators/dedup.segment_dedup): non-overlapping 10-word segments,
    a segment is duplicated when its exact text recurs anywhere in the
    corpus; per doc the duplicated-segment fraction drives the drop/clean
    decision. Linear — one explode, one groupBy on segment text, no
    pairing stage."""
    return segment_dedup(load(spark, sf_dir, "documents"))


SQL_NGRAM_TOPK = f"""
WITH w AS (
  SELECT list_filter(string_split(text, ' '), x -> x != '') AS w
  FROM documents
), g AS (
  SELECT array_to_string(w[i+1 : i+2], ' ') AS ngram
  FROM w, UNNEST(range(0, len(w) - 1)) t(i)
  WHERE len(w) >= 2
), c AS (
  SELECT ngram, COUNT(*)::BIGINT AS cnt FROM g GROUP BY ngram
)
SELECT ngram, cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, ngram) AS BIGINT) AS rank
FROM c ORDER BY cnt DESC, ngram LIMIT {NGRAM_TOPK}
"""


@q("ngram_topk", SQL_NGRAM_TOPK)
def ngram_topk_q(spark, sf_dir):
    """Corpus-wide top-50 word bigrams (operators/textstats.ngram_topk) —
    the boilerplate/artifact audit over the whole corpus; deterministic
    count-then-text tie-break. Spark executes the top-k as
    TakeOrderedAndProject (per-partition heaps), never a full sort of the
    n-gram universe."""
    return ngram_topk(load(spark, sf_dir, "documents"))


def _centroid_sql() -> str:
    qs = f"{CENTROID_Q!r}"
    diff = (
        f"(floor(emb[i]::DOUBLE * {qs}) / {qs} - carr[i])"
    )
    return f"""
WITH e AS (
  SELECT vec_id, label, embedding AS emb FROM embeddings
), ex AS (
  SELECT label, i AS dim,
         CAST(floor(emb[i+1]::DOUBLE * {qs}) AS BIGINT) AS fq
  FROM e, UNNEST(range(0, len(emb))) t(i)
), s AS (
  SELECT label, dim, SUM(fq)::BIGINT AS sm, COUNT(*)::BIGINT AS n
  FROM ex GROUP BY label, dim
), cent AS (
  SELECT label, list((sm::DOUBLE / n::DOUBLE) / {qs} ORDER BY dim) AS carr
  FROM s GROUP BY label
), d AS (
  SELECT e.vec_id::BIGINT AS vec_id, e.label,
         list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(range(1, len(emb) + 1), i -> {diff} * {diff})),
           (acc, x) -> acc + x) AS dist2
  FROM e JOIN cent USING (label)
)
SELECT vec_id, label, dist2, dist2 >= {_dbl(OUTLIER_DIST2)} AS is_outlier FROM d
"""


@q("centroid_outliers", _centroid_sql())
def centroid_outliers(spark, sf_dir):
    """Cluster-conditioned embedding curation
    (operators/similarity.centroid_distances): per-label centroid from
    EXACT integer sums (order-independent, hash-stable), per-vector
    squared distance via an in-order fold — the SemDeDup / prototype-
    filter primitive. Corpus never shuffles for the distance pass
    (centroid table is broadcast)."""
    e = load(spark, sf_dir, "embeddings")
    return centroid_distances(e)


SQL_HLL = f"""
WITH e AS (
  SELECT (floor(epoch(ts))::BIGINT // {WINDOW_SEC}) * {WINDOW_SEC} AS window_start,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), r AS (
  SELECT window_start, h % {M_REGS} AS reg, h // {M_REGS} AS p FROM e
), rk AS (
  SELECT window_start, reg,
         CASE WHEN p = 0 THEN {_MAX_RANK} ELSE length(bin(p & -p)) END AS rank
  FROM r
), s1 AS (
  SELECT window_start, reg, MAX(rank)::BIGINT AS M FROM rk GROUP BY window_start, reg
), s2 AS (
  SELECT (window_start // {HLL_T2_FANOUT * WINDOW_SEC}) * {HLL_T2_FANOUT * WINDOW_SEC} AS window_start, reg, MAX(M) AS M
  FROM s1 GROUP BY 1, reg
), u AS (
  SELECT 1 AS tier, * FROM s1 UNION ALL SELECT 2 AS tier, * FROM s2
), est AS (
  SELECT tier, window_start, list(M ORDER BY reg) AS ms, COUNT(*) AS np
  FROM u GROUP BY tier, window_start
)
SELECT tier::INT AS tier, window_start,
       ({M_REGS} - np)::BIGINT AS v_empty,
       (CAST('{_ALPHA}' AS DOUBLE) * CAST({M_REGS * M_REGS} AS DOUBLE)) /
       (list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(ms, x -> 1.0::DOUBLE / ((1::BIGINT << x)::DOUBLE))),
          (acc, v) -> acc + v) + ({M_REGS} - np)::DOUBLE) AS est_distinct
FROM est
"""


@q("hll_rollup", SQL_HLL)
def hll_rollup_q(spark, sf_dir):
    """Mergeable HLL distinct-count rollup (operators/hll.py): distinct
    users per hour (tier 1) and per 4 hours (tier 2 = elementwise
    register MAX of tier-1 sketches, never re-reading raw events) — the
    continuous-aggregate COUNT DISTINCT every OLAP/timeseries store
    ships. Engine-portable md5 hash + integer-ops rank + shift-built
    2^-M terms make even the double estimate bitwise reproducible in
    DuckDB."""
    return hll_rollup(load(spark, sf_dir, "events"))


SQL_CMS = f"""
WITH wd AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
  FROM documents
), g AS (
  SELECT array_to_string(w[i+1 : i+2], ' ') AS ngram
  FROM wd, UNNEST(range(0, len(w) - 1)) t(i)
  WHERE len(w) >= 2
), cms AS (
  SELECT row, cell, COUNT(*)::BIGINT AS cnt FROM (
    SELECT t2.i AS row,
           (('0x' || substr(md5(t2.i::VARCHAR || ':' || ngram), 1, 15))::BIGINT % {CMS_W}) AS cell
    FROM g, UNNEST(range(0, {CMS_D})) t2(i)
  ) GROUP BY row, cell
), qk AS (
  SELECT DISTINCT array_to_string(w[i+1 : i+2], ' ') AS ngram
  FROM wd, UNNEST(range(0, len(w) - 1)) t(i)
  WHERE len(w) >= 2 AND doc_id < 20
), est AS (
  SELECT ngram, MIN(COALESCE(cnt, 0))::BIGINT AS est FROM (
    SELECT qk.ngram, t2.i AS row,
           (('0x' || substr(md5(t2.i::VARCHAR || ':' || qk.ngram), 1, 15))::BIGINT % {CMS_W}) AS cell
    FROM qk, UNNEST(range(0, {CMS_D})) t2(i)
  ) qp LEFT JOIN cms USING (row, cell) GROUP BY ngram
), exact AS (
  SELECT ngram, COUNT(*)::BIGINT AS exact_cnt FROM g GROUP BY ngram
)
SELECT e.ngram, e.est, COALESCE(x.exact_cnt, 0)::BIGINT AS exact_cnt
FROM est e LEFT JOIN exact x USING (ngram)
"""


def _bigrams(docs, extra_filter=None):
    d = docs if extra_filter is None else docs.filter(extra_filter)
    wdocs = d.select(_words().alias("_w")).filter(F.size("_w") >= 2)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(F.col("_w")) - 2),
        lambda i: F.concat_ws(" ", F.slice(F.col("_w"), i + 1, 2)),
    )
    return wdocs.select(F.explode(grams).alias("ngram"))


@q("cms_counts", SQL_CMS)
def cms_counts(spark, sf_dir):
    """Count-min-sketch frequency service (operators/cms.py): the corpus'
    bigram stream folds into a fixed 4x8192-cell sketch (bounded state,
    mergeable by addition — the bloom bitset's counting twin); the query
    set (bigrams of docs 0-19) is answered by broadcast-joining the
    sketch, never re-shuffling the corpus. est >= exact_cnt always (the
    CMS one-sided guarantee, join-verified here); whole sketch and every
    estimate bit-for-bit reproducible in DuckDB.

    SCALE NOTE — the ``exact`` branch below (groupBy over the full
    n-gram universe) is VERIFICATION SCAFFOLDING for the sf0.01 oracle
    only: it shuffles exactly what the sketch exists to avoid. A
    production pipeline stops at ``cms_build(...)`` + ``cms_lookup(...)``
    — bounded CMS_D x CMS_W state, broadcast lookups, zero corpus-wide
    shuffle.
    """
    docs = load(spark, sf_dir, "documents")
    # grams feeds both the sketch build and the exact branch but is NOT
    # persisted (r8): the shared subtree is a cheap codegen split+explode,
    # and interleaved A/B measured persisting it slightly SLOWER (1.64 s
    # vs 1.52 s) — caching 1.2M string rows costs more than recomputing
    # them. (Contrast the md5-heavy _windows table, where persist wins.)
    grams = _bigrams(docs)
    cms = cms_build(grams)
    queries = _bigrams(docs, F.col("doc_id") < 20).distinct()
    est = cms_lookup(cms, queries)
    # guide §3.2 shape: the exact branch only needs counts for the QUERY
    # ngrams (the left join discards the rest), so semi-filter with the
    # broadcast query set BEFORE the groupBy — at scale this turns an
    # ngram-universe-wide aggregation into one over ~|queries| keys
    # (value-identical; verified row-for-row). Local sf0.1 wall is flat
    # (the d x md5 sketch build dominates there).
    exact = (
        grams.join(F.broadcast(queries), "ngram", "semi")
        .groupBy("ngram")
        .agg(F.count("*").alias("exact_cnt"))
    )
    return est.join(exact, "ngram", "left").select(
        "ngram", "est", F.coalesce("exact_cnt", F.lit(0).cast("long")).alias("exact_cnt")
    )


SQL_APPLY_MIXING = f"""
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source, length(text)::BIGINT AS n_tok
  FROM documents WHERE length(text) > 0
), s AS (
  SELECT source, COUNT(*)::BIGINT AS n_docs, SUM(n_tok)::BIGINT AS n_tokens
  FROM d GROUP BY source
), p AS (
  SELECT source, n_docs, n_tokens,
         floor({_POW_ALPHA_SQL} * 1048576.0)::BIGINT AS w_q
  FROM s
), g AS (
  SELECT SUM(w_q)::BIGINT AS tot, SUM(n_tokens)::BIGINT AS all_tok FROM p
), thr AS (
  SELECT source,
         floor(least(CAST(1.0 AS DOUBLE),
           (floor(all_tok::DOUBLE * CAST(0.5 AS DOUBLE))::DOUBLE
            * (w_q::DOUBLE / tot::DOUBLE)) / n_tokens::DOUBLE)
           * 1152921504606846976.0)::BIGINT AS thr
  FROM p, g
)
SELECT d.source, COUNT(*)::BIGINT AS n_kept, SUM(d.n_tok)::BIGINT AS kept_tokens
FROM d JOIN thr USING (source)
WHERE ('0x' || substr(md5(d.doc_id || ':mix'), 1, 15))::BIGINT < thr
GROUP BY d.source
"""


@q("apply_mixing", SQL_APPLY_MIXING)
def apply_mixing_q(spark, sf_dir):
    """Temperature-mixing application (operators/mixing.py): subsample
    each source to its n_tokens^0.7 share of a half-corpus token budget
    via the deterministic keep-iff-hash-below-threshold rule — the mixed
    corpus is identical across engines/runs/retries (no RNG state), which
    is what makes the sampling step resumable at 10^12 docs. Output is
    the per-source kept inventory."""
    from .operators.mixing import apply_mixing

    docs = load(spark, sf_dir, "documents")
    t = F.floor(
        F.col("_all_tok").cast("double") * F.expr("cast(0.5 as double)")
    ).cast("double")
    kept = apply_mixing(docs, t)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum(F.length("text")).cast("long").alias("kept_tokens"),
    )


SQL_KMV = f"""
WITH e AS (
  SELECT (floor(epoch(ts))::BIGINT // {WINDOW_SEC}) * {WINDOW_SEC} AS window_start,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), d AS (
  SELECT DISTINCT window_start, h FROM e
), s AS (
  SELECT window_start, list(h ORDER BY h)[1:{KMV_K}] AS ks
  FROM d GROUP BY window_start
)
SELECT window_start, array_to_string(ks, ',') AS ks_csv,
       CASE WHEN len(ks) < {KMV_K} THEN len(ks)::DOUBLE
            ELSE CAST({KMV_K - 1} AS DOUBLE) / (ks[{KMV_K}]::DOUBLE / 1152921504606846976.0)
       END AS n_distinct_est
FROM s
"""


@q("kmv_windows", SQL_KMV)
def kmv_windows(spark, sf_dir):
    """Bottom-k (KMV) sketch per hour window (operators/hll.kmv_sketch):
    a mergeable uniform sample of each window's distinct users AND a
    second distinct estimator cross-checking HLL — built two-phase
    (per-hash-shard partial bottom-ks, then a k-length merge) so no
    reducer holds a whole window's key set. Sample hashes joined to a
    CSV column for a stable cross-engine value hash."""
    ev = load(spark, sf_dir, "events")
    out = kmv_sketch(ev)
    return out.select(
        "window_start",
        F.concat_ws(",", F.transform(F.col("ks"), lambda x: x.cast("string"))).alias("ks_csv"),
        "n_distinct_est",
    )
