"""Spectral feature kernels as vectorized pandas UDFs.

The reference computes one rFFT PER FEATURE (caits/fe/_spectral.py:499-539
``spectral_values`` calls ``underlying_spectral`` :142-175 ten times, and
skewness/kurtosis re-derive centroid+spread, :100-102/:129-131). Catalyst
can't CSE inside a UDF boundary, so we do the manual CSE the reference
missed: ONE kernel computes the rFFT once per sequence and emits a struct
of all ten features.

Formulas (parity with caits/fe/_spectral.py):
  magnitude  = |rfft(x)|, freqs = rfftfreq(n, 1/fs)
  centroid   = sum(f*m)/sum(m)                        (:8-23)
  rolloff    = min f where cumsum(m) >= perc*sum(m)   (:26-55)
  spread     = sqrt(sum((f-c)^2 m)/sum(m))            (:58-82)
  skewness   = sum((f-c)^3 m)/(spread^3 sum(m))       (:85-110)
  kurtosis   = sum((f-c)^4 m)/(spread^4 sum(m))       (:114-139)
  flatness   = geomean(psd+eps)/mean(psd+eps)         (:259-286)
  std        = stddev of psd (ddof=1)                 (:289-314)
  slope      = OLS slope of m on f                    (:317-371)
  decrease   = sum_{k>1}((m_k-m_1)/(k-1))/sum_{k>1}(m_k)  (:374-426)
  rms / zcr of the raw window for convenience
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..workers import worker_kernel

SPECTRAL_FIELDS = [
    "sp_centroid",
    "sp_rolloff",
    "sp_spread",
    "sp_skewness",
    "sp_kurtosis",
    "sp_flatness",
    "sp_std",
    "sp_slope",
    "sp_decrease",
    "sp_rms",
    "sp_bandwidth",
    "sp_dominant",
    "sp_band_low",
    "sp_band_mid",
    "sp_band_high",
]

SPECTRAL_SCHEMA = "doc_id string, " + ", ".join(f"{f} double" for f in SPECTRAL_FIELDS)


def spectral_values_np(x: np.ndarray, fs: float = 1.0, rolloff_perc: float = 0.85) -> dict[str, float]:
    """All spectral features from ONE rFFT. Pure numpy (oracle + kernel)."""
    x = np.asarray(x, dtype=np.float64)
    n = x.size
    if n < 2:
        return {f: float("nan") for f in SPECTRAL_FIELDS}
    mag = np.abs(np.fft.rfft(x))
    freq = np.fft.rfftfreq(n, d=1.0 / fs)
    msum = mag.sum()
    eps = 1e-10
    centroid = float((freq * mag).sum() / (msum + eps))
    cum = np.cumsum(mag)
    idx = np.searchsorted(cum, rolloff_perc * msum)
    rolloff = float(freq[min(idx, freq.size - 1)])
    dev = freq - centroid
    spread = float(np.sqrt((dev * dev * mag).sum() / (msum + eps)))
    skew = float((dev**3 * mag).sum() / ((spread**3 + eps) * (msum + eps)))
    kurt = float((dev**4 * mag).sum() / ((spread**4 + eps) * (msum + eps)))
    psd = mag * mag
    flat = float(np.exp(np.mean(np.log(psd + eps))) / (np.mean(psd) + eps))
    sstd = float(np.std(psd, ddof=1)) if psd.size > 1 else float("nan")
    fv = freq - freq.mean()
    denom = (fv * fv).sum()
    slope = float((fv * (mag - mag.mean())).sum() / denom) if denom > 0 else float("nan")
    if mag.size > 1:
        k = np.arange(1, mag.size)
        dec_den = mag[1:].sum()
        decrease = float(((mag[1:] - mag[0]) / k).sum() / (dec_den + eps))
    else:
        decrease = float("nan")
    rms = float(np.sqrt(np.mean(x * x)))
    # round-2 completions: bandwidth (std of normalized power spectrum,
    # caits/fe/_spectral.py:178-256), Welch dominant frequency
    # (_statistical.py:542-571), relative band power thirds (:429-496 with
    # fs-proportional bands)
    from .spectral2 import band_relative_power, dominant_frequency, spectral_bandwidth

    bw = spectral_bandwidth(x, fs)
    dom = dominant_frequency(x, fs)
    nyq = fs / 2.0
    bands = band_relative_power(
        x, fs, nperseg_th=min(256, n), noverlap_th=min(128, n // 2),
        freq_cuts=[(0.0, nyq / 3), (nyq / 3, 2 * nyq / 3), (2 * nyq / 3, nyq)],
    )
    return {
        "sp_centroid": centroid,
        "sp_rolloff": rolloff,
        "sp_spread": spread,
        "sp_skewness": skew,
        "sp_kurtosis": kurt,
        "sp_flatness": flat,
        "sp_std": sstd,
        "sp_slope": slope,
        "sp_decrease": decrease,
        "sp_rms": rms,
        "sp_bandwidth": bw,
        "sp_dominant": dom,
        "sp_band_low": float(bands[0]),
        "sp_band_mid": float(bands[1]),
        "sp_band_high": float(bands[2]),
    }


def spectral_features(df: DataFrame, fs: float = 1.0) -> DataFrame:
    """(doc_id, tokens) -> one spectral-feature row per doc.

    mapInPandas (Arrow batches), numpy inside — never per-row Python.
    """

    @worker_kernel
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["tokens"]):
                feats = spectral_values_np(np.asarray(toks, dtype=np.float64), fs=fs)
                rows.append({"doc_id": doc_id, **feats})
            yield pd.DataFrame(rows)

    return df.select("doc_id", "tokens").mapInPandas(kernel, schema=SPECTRAL_SCHEMA)


# ------------------------------------------------------ rolling kernels


def rolling_rms_np(x: np.ndarray, frame_length: int, hop: int) -> np.ndarray:
    """Centered padded rolling RMS (caits/properties.py:111-172 semantics:
    pad frame_length//2 constant-0 both sides, frame, sqrt(mean(x^2)))."""
    x = np.asarray(x, dtype=np.float64)
    pad = frame_length // 2
    xp = np.pad(x, pad, mode="constant")
    sw = np.lib.stride_tricks.sliding_window_view(xp, frame_length)[::hop]
    return np.sqrt((sw * sw).mean(axis=1))


def rolling_zcr_np(x: np.ndarray, frame_length: int, hop: int) -> np.ndarray:
    """Edge-padded centered rolling zero-crossing rate
    (caits/properties.py:175-223): sign changes are counted only WITHIN each
    frame (frame_length-1 diff slots, never across the frame boundary) and
    divided by frame_length — matching the reference's
    ``np.diff(np.signbit(frames))`` semantics."""
    x = np.asarray(x, dtype=np.float64)
    pad = frame_length // 2
    xp = np.pad(x, pad, mode="edge")
    frames = np.lib.stride_tricks.sliding_window_view(xp, frame_length)[::hop]
    cross = np.abs(np.diff(np.signbit(frames), axis=1)).sum(axis=1)
    return cross / float(frame_length)
