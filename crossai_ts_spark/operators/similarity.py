"""Similarity search over embedding columns (array<float>).

The exact brute-force baseline (broadcast the small query set, JVM-side
fold for the dot product, row_number top-k) is oracle/plans.cosine_topk;
tests score the searches here by recall against it.

Scale path: LSH by random-hyperplane sign buckets — corpus hashed once to
B-bit bucket ids; queries probe their own bucket and its Hamming-1
neighbours, so each query touches ~probes x corpus/2^B vectors instead of
all of them.
Hyperplanes are derived deterministically from a seed and broadcast.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "cast(0.0 as double), (acc, v) -> acc + v)"
)

# centroid_distances: embedding quantizer (2^20) and the squared-distance
# outlier threshold; the DuckDB oracle builds its SQL from the same values
CENTROID_Q = 1048576.0
OUTLIER_DIST2 = 1.0

# the width of the `embeddings` table's vectors
EMB_DIM = 64
# nearest neighbours each ANN search keeps per query
ANN_K = 5
# lsh_topk: bits per bucket id, hyperplane seed, and buckets probed per
# query (its own and the first Hamming-1 neighbours)
LSH_BITS, LSH_SEED, LSH_PROBES = 6, 42, 3
# ivf_topk: centroids (Voronoi cells) and cells probed per query
IVF_CENT, IVF_PROBE = 16, 3


def _norm(col: str):
    """sqrt(dot(col, col)) — the per-vector factor of the cosine.

    Computed ONCE per vector row (guide §2.3 "don't compute things you
    throw away"): scoring a candidate pair as dot/(na*nb) with
    pre-attached norms runs ONE O(dim) fold per pair instead of three,
    and the floats are bit-identical — the norm fold is the same
    expression either side of the join, and sqrt(aa)*sqrt(bb) stays the
    same multiply."""
    return F.sqrt(F.expr(_DOT.format(a=col, b=col)))


def _cos_with_norms(a: str, b: str):
    """dot(a,b) / (_na * _nb) with norms precomputed by :func:`_norm`."""
    return F.expr(_DOT.format(a=a, b=b)) / (F.col("_na") * F.col("_nb"))


def _arr_sql(vals) -> str:
    """SQL array literal of float64 values, built as ONE expression string.

    repr(float) round-trips (shortest correctly-rounded decimal), and
    CAST(string AS DOUBLE) parses correctly-rounded, so each element is
    bit-identical to the F.lit(float) literal it replaces — but the whole
    array costs one py4j call instead of one per element (measured: the 18
    plane literals of the 3-table near-dup bucket cost ~1.06 s of driver
    time via F.lit lists, ~0 via expression strings)."""
    return "array(" + ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in vals) + ")"


def _hyperplanes(dim: int, n_bits: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.normal(0, 1, size=(n_bits, dim)).tolist()


def lsh_bucket_col(dim: int, n_bits: int, seed: int):
    """Random-hyperplane signature as a Column:
    bucket = sum_i (dot(v, h_i) > 0) << i. Hyperplanes ship as literal
    arrays inside the plan (broadcast by value); each bit is one JVM-side
    fold — no Python. Column form so multi-table callers can compute every
    table's bucket in ONE projection over ONE scan."""
    planes = _hyperplanes(dim, n_bits, seed)
    # the ENTIRE bucket expression as one SQL string -> one py4j call.
    # Building it Column-by-Column (F.lit per element, a when/otherwise per
    # bit) cost ~0.35 s of driver time PER TABLE at dim=64/n_bits=6
    # (measured r8); the parsed expression is semantically identical — same
    # left fold per plane, same left-assoc sum of bit terms, CAST-from-repr
    # literals bit-identical to F.lit floats.
    terms = []
    for i, p in enumerate(planes):
        dot = _DOT.format(a="embedding", b=_arr_sql(float(x) for x in p))
        terms.append(
            f"(CASE WHEN {dot} > 0 THEN CAST({1 << i} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return F.expr("(" + " + ".join(terms) + ")")


def ivf_centroids(corpus: DataFrame, n_cent: int) -> list[list[float]]:
    """Deterministic IVF 'training': the n_cent corpus vectors whose
    md5(vec_id) sorts smallest — a hash-random sample standing in for
    k-means centroids, so an independent engine can rebuild the identical
    model. Control-plane collect of an n_cent x dim model (a few KB), the
    same pattern as the LSH literal hyperplanes; at real scale this is the
    standard train-small-model-then-broadcast IVF shape (a k-means refit
    would slot in here without touching the search plan)."""
    rows = (
        corpus.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(n_cent)
        .collect()
    )
    return [[float(x) for x in r[1]] for r in rows]


def ivf_assign(df: DataFrame, cents: list[list[float]], vec: str = "embedding") -> DataFrame:
    """Add `cscore` (cosine vs each centroid, index order) and `cell`
    (1-based argmax, first-max tie-break). Each score is a plain column
    expression — one JVM fold per centroid, evaluated once per row (no
    HOF-lambda inlining), so assignment is a narrow map: no shuffle, no
    Python. Centroid literals ship inside the plan like the LSH planes."""
    # ONE array<array<double>> literal + ONE transform lambda, not n_cent
    # separate fold expressions: per-centroid exprs compiled a plan whose
    # analysis+codegen dominated wall time (n_cent x dim literal casts
    # measured a ~1 MB task binary). `_sn` is materialized as a column
    # first — referencing it inside the lambda is a per-row read, while an
    # inlined expression would re-evaluate the self-dot per centroid
    # (the Catalyst HOF-inlining trap). The whole expression ships as ONE
    # SQL string (one py4j call; F.lit-per-element literals cost ~0.3 s of
    # driver time for a 16x64 model — r8) with CAST-from-repr literals
    # bit-identical to F.lit floats.
    carr = "array(" + ",".join(_arr_sql(float(x) for x in c) for c in cents) + ")"
    out = df.withColumn("_sn", F.expr(f"sqrt({_DOT.format(a=vec, b=vec)})"))
    scores = F.expr(
        f"transform({carr}, c -> {_DOT.format(a=vec, b='c')}"
        f" / (_sn * sqrt({_DOT.format(a='c', b='c')})))"
    )
    return (
        out.withColumn("cscore", scores)
        .withColumn("cell", F.array_position(F.col("cscore"), F.array_max("cscore")).cast("long"))
        .drop("_sn")
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF approximate NN: partition the corpus into IVF_CENT Voronoi cells
    around deterministic centroids, then each query searches only its
    IVF_PROBE nearest cells (exact cosine re-rank inside) for its top ANN_K.

    Scale shape (the IVF contract): the model is tiny and broadcast; cell
    assignment is a narrow map over the corpus (IVF_CENT folds/row, no
    shuffle); the candidate join is broadcast-hash on the (queries x
    IVF_PROBE)-row probe side so the corpus never shuffles; the only
    shuffle is the final per-query top-k over ~IVF_PROBE/IVF_CENT of the
    corpus.
    Complements lsh_topk: IVF adapts to the data distribution (cells follow
    the vectors), LSH is oblivious (fixed hyperplanes)."""
    cents = ivf_centroids(corpus, IVF_CENT)
    cb = ivf_assign(corpus, cents).select(
        "vec_id", "embedding", "cell", _norm("embedding").alias("_nb")
    )
    qv = queries.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
    qb = ivf_assign(qv, cents, vec="qe")
    qp = qb.select(
        "q_id", "qe", _norm("qe").alias("_na"), F.posexplode("cscore").alias("cid0", "score")
    )
    wp = Window.partitionBy("q_id").orderBy(F.desc("score"), "cid0")
    qp = (
        qp.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= IVF_PROBE)
        .select("q_id", "qe", "_na", (F.col("cid0") + 1).cast("long").alias("cell"))
    )
    pairs = F.broadcast(qp).join(cb, "cell").filter(F.col("vec_id") != F.col("q_id"))
    scored = pairs.select("q_id", "vec_id", _cos_with_norms("qe", "embedding").alias("cos_sim"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select("q_id", "rank", "vec_id", "cos_sim")
    )


def lsh_topk(corpus: DataFrame, queries: DataFrame, dim: int) -> DataFrame:
    """ANN top-ANN_K restricted to the query's LSH buckets.

    Multi-probe: each query probes its own LSH_BITS-bit bucket and the
    first LSH_PROBES - 1 buckets at Hamming distance 1 from it (one
    sign-flip away — where a borderline neighbor most likely landed).
    Recall rises from p^B toward coverage of the adjacent half-spaces at
    the cost of (LSH_PROBES x) candidate volume; the probe fan-out explodes
    on the (tiny, broadcast) QUERY side only — the corpus is still hashed
    exactly once.
    """
    bucket = lsh_bucket_col(dim, LSH_BITS, LSH_SEED)
    cb = corpus.withColumn("bucket", bucket).withColumn("_nb", _norm("embedding"))
    qb0 = queries.withColumn("bucket", bucket).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        _norm("embedding").alias("_na"),
        "bucket",
    )
    flips = [F.col("bucket").cast("long")] + [
        F.col("bucket").cast("long").bitwiseXOR(F.lit(1 << i).cast("long"))
        for i in range(LSH_PROBES - 1)
    ]
    qb = qb0.select("q_id", "qe", "_na", F.explode(F.array(*flips)).alias("bucket"))
    # the probe buckets of one query are pairwise-distinct XOR values and a
    # corpus vector lives in exactly one bucket, so no candidate repeats —
    # no dedup shuffle needed
    pairs = F.broadcast(qb).join(cb, "bucket").filter(F.col("vec_id") != F.col("q_id"))
    scored = pairs.select("q_id", "vec_id", _cos_with_norms("qe", "embedding").alias("cos_sim"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select("q_id", "rank", "vec_id", "cos_sim")
    )


def centroid_distances(corpus: DataFrame) -> DataFrame:
    """Per-label centroid + each vector's squared distance to its group's
    centroid — the cluster-conditioned curation primitive (public recipe:
    SemDeDup prunes near-centroid semantic duplicates inside a cluster,
    prototype/noise filters drop far outliers; both read this table).

    Cross-engine exactness: the centroid per dimension is built from
    EXACT integer sums of floor(v * CENTROID_Q) (order-independent — a
    float sum across rows would be partition-order-dependent and never
    hash-stable), divided back in a fixed op order; the distance is a
    per-row left-to-right fold over the dims. CENTROID_Q = 2^20 keeps the
    quantization error at 1e-6 of a unit vector while / quantize stays
    EXACT (power of two). Integer headroom: |v|<=~30 -> ~2^25 per
    element, overflow only past ~2^38 rows per group.

    Output: (vec_id, label, dist2 double, is_outlier = dist2 >= OUTLIER_DIST2).

    Scale shape: one posexplode (linear in rows x dims) into a map-side-
    combined (group, dim) aggregate -> centroid table of groups x dims
    rows (tiny), reassembled into per-group arrays and BROADCAST back —
    the corpus itself never shuffles for the distance pass.
    """
    q = CENTROID_Q
    ex = corpus.select(
        F.col("label"), F.posexplode(F.col("embedding")).alias("dim", "v")
    ).select("label", "dim", F.floor(F.col("v").cast("double") * q).cast("long").alias("fq"))
    sums = ex.groupBy("label", "dim").agg(
        F.sum("fq").alias("s"), F.count("*").alias("n")
    )
    # centroid dim value: (int_sum / n) / Q — both divisions deterministic,
    # the second exact (Q = power of two); same op order in the oracle
    cent = sums.select(
        "label",
        "dim",
        ((F.col("s").cast("double") / F.col("n").cast("double")) / F.lit(q)).alias("c"),
    )
    carr = cent.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("_cent")
    )
    joined = corpus.select("vec_id", "label", "embedding").join(F.broadcast(carr), "label")
    diff = F.zip_with(
        F.col("embedding"),
        F.col("_cent"),
        lambda v, c: (F.floor(v.cast("double") * F.lit(q)) / F.lit(q) - c)
        * (F.floor(v.cast("double") * F.lit(q)) / F.lit(q) - c),
    )
    dist2 = F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)
    return joined.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        "label",
        dist2.alias("dist2"),
        (dist2 >= F.lit(OUTLIER_DIST2)).alias("is_outlier"),
    )
