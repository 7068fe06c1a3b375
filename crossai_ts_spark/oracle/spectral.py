"""Numpy reference for the spectral feature set: all features from ONE rFFT.

The reference computes one rFFT PER FEATURE (caits/fe/_spectral.py:499-539
``spectral_values`` calls ``underlying_spectral`` :142-175 ten times, and
skewness/kurtosis re-derive centroid+spread, :100-102/:129-131).
:func:`spectral_values_np` computes the rFFT once and derives every
feature from it; tests/test_spectral_exact.py checks the cross-engine
fixed-fold kernels of functions/spectral_exact.py against it.

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
  rms of the raw window for convenience
"""

from __future__ import annotations

import numpy as np

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


def spectral_values_np(x: np.ndarray, fs: float = 1.0, rolloff_perc: float = 0.85) -> dict[str, float]:
    """All spectral features from ONE rFFT."""
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
    from ..functions.spectral2 import band_relative_power, dominant_frequency, spectral_bandwidth

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

