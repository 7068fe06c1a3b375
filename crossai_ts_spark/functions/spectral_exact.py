"""Cross-engine EXACT spectral kernels over fixed 64-token frames.

The numpy spectral/MFCC kernels (oracle/spectral.py, functions/dsp.py)
use numpy's rFFT, whose twiddle factors and pairwise summation are
not bit-reproducible in any SQL engine — so those queries could only get a
rows-only driver check. This module closes that gap with the same features
computed over a canonical frame through a DFT built for bitwise
cross-engine equality (the technique that oracled the biquad recursion in
entry_queries.SQL_BUTTER):

  * twiddles are QUANTIZED INTEGERS: CQ[j] = round(cos(2*pi*j/64) * 2^30).
    A 64-point DFT then is pure int64 arithmetic (tok < 2^21, 64 terms:
    |sum| < 2^57) — exact in numpy AND in DuckDB, order-independent.
  * every downstream feature uses only + * / sqrt on doubles with an
    IDENTICAL left-fold order on both engines (IEEE 754 makes those
    bit-deterministic); the only transcendental (log, for MFCC) is
    immediately floor-quantized so ULP differences between libm
    implementations cannot flip the result.

Feature formulas mirror caits/fe/_spectral.py:8-426 (centroid :8-23,
rolloff :26-55, spread :58-82, skewness :85-110, kurtosis :114-139,
std :289-314, slope :317-371, decrease :374-426) and the MFCC pipeline of
caits/fe/_spectrum.py:339-462 (mel filterbank -> log -> DCT-II, mfcc_stats
per-coefficient mean(+)std :432-462), evaluated at fs=64 over 64-sample
frames. A parity pytest ties these to the full numpy kernels.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..literals import duck_doubles
from ..workers import worker_kernel

N = 64  # frame length
K = N // 2 + 1  # rFFT bins
FS = 64.0  # frame sample rate -> freq of bin k is exactly k
TWQ = 1 << 30  # twiddle quantizer
MFCC_Q = 1 << 14  # mfcc quantizer (int64-safe second moments)
N_MELS = 8
N_MFCC = 6
EPS = 1e-10
MAX_FRAMES = 8  # mfcc_stats frame cap (cost bound, deterministic)

_j = np.arange(N)
CQ = np.round(np.cos(2.0 * np.pi * _j / N) * TWQ).astype(np.int64)
SQ = np.round(np.sin(2.0 * np.pi * _j / N) * TWQ).astype(np.int64)
_IDX = (np.arange(K)[:, None] * _j[None, :]) % N
TC = CQ[_IDX]  # (33, 64) int64
TS = SQ[_IDX]


def _hz_to_mel(f: float) -> float:
    return 2595.0 * math.log10(1.0 + f / 700.0)


def _mel_to_hz(m: float) -> float:
    return 700.0 * (10.0 ** (m / 2595.0) - 1.0)


def _mel_weights() -> np.ndarray:
    """HTK triangular filterbank, (N_MELS, K) doubles; built once and
    embedded as literals in BOTH plans, so only its values (not the
    transcendentals that produced them) matter for reproducibility."""
    fmax = FS / 2.0
    mels = np.linspace(0.0, _hz_to_mel(fmax), N_MELS + 2)
    hz = np.array([_mel_to_hz(m) for m in mels])
    freqs = np.arange(K, dtype=np.float64)  # bin k is k Hz at fs=64
    w = np.zeros((N_MELS, K))
    for m in range(N_MELS):
        lo, ctr, hi = hz[m], hz[m + 1], hz[m + 2]
        up = (freqs - lo) / (ctr - lo)
        down = (hi - freqs) / (hi - ctr)
        w[m] = np.maximum(0.0, np.minimum(up, down))
    return w


def _dct_table() -> np.ndarray:
    """Orthonormal DCT-II, (N_MFCC, N_MELS)."""
    jj = np.arange(N_MELS)
    d = np.zeros((N_MFCC, N_MELS))
    for c in range(N_MFCC):
        d[c] = math.sqrt(2.0 / N_MELS) * np.cos(
            math.pi * c * (2 * jj + 1) / (2.0 * N_MELS)
        )
    d[0] *= 1.0 / math.sqrt(2.0)
    return d


MEL_W = _mel_weights()
DCT = _dct_table()


def _fold(vals) -> float:
    """Explicit left fold (matches DuckDB list_reduce(list_prepend(0.0,.)))."""
    acc = 0.0
    for v in vals:
        acc = acc + float(v)
    return acc


def _frame_mags(x64: np.ndarray) -> np.ndarray:
    """|DFT| of one 64-sample int frame via the quantized twiddle tables.
    int64 matmul is EXACT; /2^30 and the hypot expression are IEEE-fixed."""
    re = (TC @ x64).astype(np.float64) / float(TWQ)
    im = (TS @ x64).astype(np.float64) / float(TWQ)
    return np.sqrt(re * re + im * im)


def _spectral_feats(x64: np.ndarray) -> dict[str, float]:
    mg = _frame_mags(x64)
    ms = [float(v) for v in mg]
    msum = _fold(ms)
    wsum = _fold(float(k) * ms[k] for k in range(K))
    centroid = wsum / (msum + EPS)
    target = 0.85 * msum
    cum = 0.0
    roll = float(K - 1)
    for k in range(K):
        cum = cum + ms[k]
        if cum >= target:
            roll = float(k)
            break
    spread = math.sqrt(
        _fold((float(k) - centroid) * (float(k) - centroid) * ms[k] for k in range(K))
        / (msum + EPS)
    )
    def _dev_pow(p: int) -> float:
        tot = 0.0
        for k in range(K):
            d = float(k) - centroid
            t = d * d * d if p == 3 else (d * d) * (d * d)
            tot = tot + t * ms[k]
        return tot
    sp3 = spread * spread * spread
    skew = _dev_pow(3) / ((sp3 + EPS) * (msum + EPS))
    kurt = _dev_pow(4) / ((sp3 * spread + EPS) * (msum + EPS))
    psd = [v * v for v in ms]
    pmean = _fold(psd) / float(K)
    pvar = _fold((p - pmean) * (p - pmean) for p in psd) / float(K - 1)
    sstd = math.sqrt(pvar)
    fmean = 16.0  # mean of 0..32 exactly
    denom = _fold((float(k) - fmean) * (float(k) - fmean) for k in range(K))
    mmean = msum / float(K)
    slope = _fold((float(k) - fmean) * (ms[k] - mmean) for k in range(K)) / denom
    dec_num = _fold((ms[k] - ms[0]) / float(k) for k in range(1, K))
    dec_den = _fold(ms[k] for k in range(1, K))
    decrease = dec_num / (dec_den + EPS)
    ss = int((x64 * x64).sum())
    rms = math.sqrt(float(ss) / float(N))
    return {
        "sp_centroid": centroid,
        "sp_rolloff": roll,
        "sp_spread": spread,
        "sp_skewness": skew,
        "sp_kurtosis": kurt,
        "sp_std": sstd,
        "sp_slope": slope,
        "sp_decrease": decrease,
        "sp_rms": rms,
    }


SPECTRAL_EXACT_SCHEMA = (
    "doc_id string, sp_centroid double, sp_rolloff double, sp_spread double, "
    "sp_skewness double, sp_kurtosis double, sp_std double, sp_slope double, "
    "sp_decrease double, sp_rms double"
)


def spectral_features_exact(df: DataFrame) -> DataFrame:
    """(doc_id, tokens) -> spectral feature row over the doc's first
    64-token frame (docs with n_tok >= 64). Cross-engine bit-exact."""
    src = df.filter(F.col("n_tok") >= N).select("doc_id", "tokens")

    @worker_kernel
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["tokens"]):
                x = np.asarray(toks[:N], dtype=np.int64)
                rows.append({"doc_id": doc_id, **_spectral_feats(x)})
            yield pd.DataFrame(rows)

    return src.mapInPandas(kernel, schema=SPECTRAL_EXACT_SCHEMA)


def _mfcc_frame_q(x64: np.ndarray) -> list[int]:
    """Quantized MFCC of one frame: psd -> mel fold -> log -> DCT fold ->
    floor(c * 2^14). log is the one transcendental; quantization absorbs
    cross-libm ULP differences."""
    mg = _frame_mags(x64)
    psd = [float(v) * float(v) for v in mg]
    logmel = []
    for m in range(N_MELS):
        e = 0.0
        for k in range(K):
            e = e + MEL_W[m, k] * psd[k]
        logmel.append(math.log(e + EPS))
    out = []
    for c in range(N_MFCC):
        acc = 0.0
        for m in range(N_MELS):
            acc = acc + DCT[c, m] * logmel[m]
        out.append(math.floor(acc * MFCC_Q))
    return out


MEL_EXACT_SCHEMA = (
    "doc_id string, "
    + ", ".join(f"mel_{m} double" for m in range(N_MELS))
    + ", "
    + ", ".join(f"mfcc_q_{c} long" for c in range(N_MFCC))
)


def dsp_features_exact(df: DataFrame) -> DataFrame:
    """(doc_id, tokens) -> mel energies (bit-exact doubles) + quantized
    MFCCs over the first 64-token frame."""
    src = df.filter(F.col("n_tok") >= N).select("doc_id", "tokens")

    @worker_kernel
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["tokens"]):
                x = np.asarray(toks[:N], dtype=np.int64)
                mg = _frame_mags(x)
                psd = [float(v) * float(v) for v in mg]
                row: dict = {"doc_id": doc_id}
                for m in range(N_MELS):
                    e = 0.0
                    for k in range(K):
                        e = e + MEL_W[m, k] * psd[k]
                    row[f"mel_{m}"] = e
                for c, qv in enumerate(_mfcc_frame_q(x)):
                    row[f"mfcc_q_{c}"] = qv
                rows.append(row)
            yield pd.DataFrame(rows)

    return src.mapInPandas(kernel, schema=MEL_EXACT_SCHEMA)


MFCC_STATS_SCHEMA = (
    "doc_id string, n_frames long, "
    + ", ".join(f"mfcc_{c}_mean double" for c in range(N_MFCC))
    + ", "
    + ", ".join(f"mfcc_{c}_std double" for c in range(N_MFCC))
)


def mfcc_stats_exact(df: DataFrame) -> DataFrame:
    """Per-coefficient mean (+) std of quantized MFCCs across up to
    MAX_FRAMES non-overlapping 64-token frames (caits/fe/_spectrum.py:
    432-462 mfcc_stats shape). Docs need >= 2 frames (n_tok >= 128).

    Stats are exact-integer: mean = sum(q)/n, var = (sum(q^2) -
    sum(q)^2/n)/(n-1) over int64 sums of 2^14-quantized coefficients —
    both engines evaluate identical integer sums then identical division
    order."""
    src = df.filter(F.col("n_tok") >= 2 * N).select("doc_id", "tokens")

    @worker_kernel
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["tokens"]):
                arr = np.asarray(toks, dtype=np.int64)
                nfr = min(len(arr) // N, MAX_FRAMES)
                qs = np.array(
                    [_mfcc_frame_q(arr[t * N : (t + 1) * N]) for t in range(nfr)],
                    dtype=np.int64,
                )  # (nfr, N_MFCC)
                s1 = qs.sum(axis=0)
                s2 = (qs * qs).sum(axis=0)
                row: dict = {"doc_id": doc_id, "n_frames": nfr}
                for c in range(N_MFCC):
                    mean = float(s1[c]) / float(nfr)
                    var = (float(s2[c]) - float(s1[c]) * float(s1[c]) / float(nfr)) / float(nfr - 1)
                    row[f"mfcc_{c}_mean"] = mean
                    row[f"mfcc_{c}_std"] = math.sqrt(var) if var > 0.0 else 0.0
                rows.append(row)
            yield pd.DataFrame(rows)

    return src.mapInPandas(kernel, schema=MFCC_STATS_SCHEMA)


# ------------------------------------------------------------------ SQL
# DuckDB mirrors: identical integer DFT (same quantized twiddle literals),
# identical left folds (list_reduce(list_prepend(0.0, ...))), identical
# expression shapes — so even un-quantized doubles hash-match bitwise.


def _int_list(arr) -> str:
    return "[" + ", ".join(str(int(v)) for v in arr) + "]::BIGINT[]"


def _fold_sql(lst: str) -> str:
    return f"list_reduce(list_prepend(0.0::DOUBLE, {lst}), (a, b) -> a + b)"


def _dft_ctes() -> str:
    """x -> per-(doc,k) integer DFT -> per-doc ordered magnitude list ms."""
    return f"""
WITH x AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, (i - 1) AS off,
         unicode(text[i])::BIGINT AS tok
  FROM documents, unnest(range(1, {N + 1})) t(i)
  WHERE length(text) >= {N}
), dft AS (
  SELECT doc_id, k,
         SUM(tok * ({_int_list(CQ)})[((k * off) % {N}) + 1]) AS rei,
         SUM(tok * ({_int_list(SQ)})[((k * off) % {N}) + 1]) AS imi
  FROM x, unnest(range(0, {K})) t2(k)
  GROUP BY doc_id, k
), mrow AS (
  SELECT doc_id, k,
         sqrt((rei::DOUBLE / {float(TWQ)!r}) * (rei::DOUBLE / {float(TWQ)!r})
            + (imi::DOUBLE / {float(TWQ)!r}) * (imi::DOUBLE / {float(TWQ)!r})) AS mg
  FROM dft
), ml AS (
  SELECT doc_id, list(mg ORDER BY k) AS ms FROM mrow GROUP BY doc_id
), rq AS (
  SELECT doc_id, SUM(tok * tok)::BIGINT AS ss FROM x GROUP BY doc_id
)"""


def spectral_exact_sql() -> str:
    d = "((i - 1)::DOUBLE - c)"
    return (
        _dft_ctes()
        + f"""
, f1 AS (
  SELECT doc_id, ms,
         {_fold_sql('ms')} AS msum,
         {_fold_sql('list_transform(ms, (v, i) -> (i - 1)::DOUBLE * v)')} AS wsum
  FROM ml
), f2 AS (
  SELECT *, wsum / (msum + 1e-10) AS c, 0.85::DOUBLE * msum AS target,
         list_transform(ms, v -> v * v) AS psd
  FROM f1
), f3 AS (
  SELECT *,
    sqrt({_fold_sql(f'list_transform(ms, (v, i) -> {d} * {d} * v)')}
         / (msum + 1e-10)) AS spread,
    {_fold_sql(f'list_transform(ms, (v, i) -> ({d} * {d} * {d}) * v)')} AS dev3,
    {_fold_sql(f'list_transform(ms, (v, i) -> (({d} * {d}) * ({d} * {d})) * v)')} AS dev4,
    COALESCE(list_position(
      list_transform(ms, (v, i) -> {_fold_sql('ms[1:i]')} >= target), true) - 1,
      {K - 1})::DOUBLE AS sp_rolloff,
    {_fold_sql('psd')} / {float(K)!r} AS pmean,
    msum / {float(K)!r} AS mmean,
    {_fold_sql('list_transform(ms, (v, i) -> ((i - 1)::DOUBLE - 16.0::DOUBLE) * ((i - 1)::DOUBLE - 16.0::DOUBLE))')} AS sdenom,
    {_fold_sql(f'list_transform(ms[2:{K}], (v, i) -> (v - ms[1]) / i::DOUBLE)')} AS dec_num,
    {_fold_sql(f'ms[2:{K}]')} AS dec_den
  FROM f2
), f4 AS (
  SELECT *, (spread * spread) * spread AS sp3,
    sqrt({_fold_sql('list_transform(psd, p -> (p - pmean) * (p - pmean))')}
         / {float(K - 1)!r}) AS sp_std,
    {_fold_sql('list_transform(ms, (v, i) -> ((i - 1)::DOUBLE - 16.0::DOUBLE) * (v - mmean))')} / sdenom AS sp_slope
  FROM f3
)
SELECT f4.doc_id,
       c AS sp_centroid,
       sp_rolloff,
       spread AS sp_spread,
       dev3 / ((sp3 + 1e-10) * (msum + 1e-10)) AS sp_skewness,
       dev4 / ((sp3 * spread + 1e-10) * (msum + 1e-10)) AS sp_kurtosis,
       sp_std,
       sp_slope,
       dec_num / (dec_den + 1e-10) AS sp_decrease,
       sqrt(ss::DOUBLE / {float(N)!r}) AS sp_rms
FROM f4 JOIN rq ON rq.doc_id = f4.doc_id
"""
    )


def _logmel_list_sql() -> str:
    mels = ", ".join(
        "ln("
        + _fold_sql(f"list_transform(psd, (v, i) -> ({duck_doubles(MEL_W[m])}::DOUBLE[])[i] * v)")
        + " + 1e-10)"
        for m in range(N_MELS)
    )
    return f"[{mels}]"


def _mfcc_q_sql(c: int) -> str:
    fold = _fold_sql(f"list_transform(lm, (v, i) -> ({duck_doubles(DCT[c])}::DOUBLE[])[i] * v)")
    return f"floor(({fold}) * {float(MFCC_Q)!r})::BIGINT"


def dsp_exact_sql() -> str:
    mel_cols = ",\n       ".join(
        _fold_sql(f"list_transform(psd, (v, i) -> ({duck_doubles(MEL_W[m])}::DOUBLE[])[i] * v)")
        + f" AS mel_{m}"
        for m in range(N_MELS)
    )
    mfcc_cols = ",\n       ".join(
        _mfcc_q_sql(c) + f" AS mfcc_q_{c}" for c in range(N_MFCC)
    )
    return (
        _dft_ctes()
        + f"""
, p1 AS (
  SELECT doc_id, list_transform(ms, v -> v * v) AS psd FROM ml
), p2 AS (
  SELECT doc_id, psd, {_logmel_list_sql()} AS lm FROM p1
)
SELECT doc_id,
       {mel_cols},
       {mfcc_cols}
FROM p2
"""
    )


def mfcc_stats_sql() -> str:
    stat_cols = ",\n       ".join(
        f"s1_{c}::DOUBLE / n::DOUBLE AS mfcc_{c}_mean" for c in range(N_MFCC)
    )
    std_cols = ",\n       ".join(
        f"CASE WHEN (s2_{c}::DOUBLE - (s1_{c}::DOUBLE * s1_{c}::DOUBLE) / n::DOUBLE)"
        f" / (n - 1)::DOUBLE > 0.0::DOUBLE"
        f" THEN sqrt((s2_{c}::DOUBLE - (s1_{c}::DOUBLE * s1_{c}::DOUBLE) / n::DOUBLE)"
        f" / (n - 1)::DOUBLE) ELSE 0.0::DOUBLE END AS mfcc_{c}_std"
        for c in range(N_MFCC)
    )
    aggs = ", ".join(
        f"SUM(q_{c})::BIGINT AS s1_{c}, SUM(q_{c} * q_{c})::BIGINT AS s2_{c}"
        for c in range(N_MFCC)
    )
    qcols = ",\n         ".join(
        _mfcc_q_sql(c) + f" AS q_{c}" for c in range(N_MFCC)
    )
    return f"""
WITH docs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
         least(length(text) // {N}, {MAX_FRAMES}) AS nfrm
  FROM documents WHERE length(text) >= {2 * N}
), x AS (
  SELECT doc_id, (i - 1) // {N} AS t, (i - 1) % {N} AS o,
         unicode(text[i])::BIGINT AS tok
  FROM docs, unnest(range(1, nfrm * {N} + 1)) s(i)
), dft AS (
  SELECT doc_id, t, k,
         SUM(tok * ({_int_list(CQ)})[((k * o) % {N}) + 1]) AS rei,
         SUM(tok * ({_int_list(SQ)})[((k * o) % {N}) + 1]) AS imi
  FROM x, unnest(range(0, {K})) t2(k)
  GROUP BY doc_id, t, k
), mrow AS (
  SELECT doc_id, t, k,
         sqrt((rei::DOUBLE / {float(TWQ)!r}) * (rei::DOUBLE / {float(TWQ)!r})
            + (imi::DOUBLE / {float(TWQ)!r}) * (imi::DOUBLE / {float(TWQ)!r})) AS mg
  FROM dft
), fr AS (
  SELECT doc_id, t, list_transform(list(mg ORDER BY k), v -> v * v) AS psd
  FROM mrow GROUP BY doc_id, t
), fq AS (
  SELECT doc_id, t, {_logmel_list_sql()} AS lm FROM fr
), q AS (
  SELECT doc_id, t,
         {qcols}
  FROM fq
), st AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n, {aggs} FROM q GROUP BY doc_id
)
SELECT doc_id, n AS n_frames,
       {stat_cols},
       {std_cols}
FROM st
"""
