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
  bandwidth  = std of the normalized one-sided power spectrum (:178-256)
  dominant   = argmax of a one-segment Welch PSD (_statistical.py:542-571)
  band power = per-band Simpson / total Simpson of a Welch PSD (:429-496)

The Welch, Simpson and band-power kernels below are checked on their own
by tests/test_spectral2.py.
"""

from __future__ import annotations

import numpy as np

from ..functions.dsp import hann

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


# ------------------------------------------------- welch and band power
#
# Welch follows scipy.signal.welch defaults: periodic Hann, constant
# detrend per segment, noverlap = nperseg//2, density scaling
# (2/(fs*sum(w^2)) with DC and Nyquist not doubled).


def welch_psd(
    x: np.ndarray, fs: float, nperseg: int, noverlap: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """(freqs, psd) — scipy.signal.welch semantics (density, hann,
    constant detrend, mean over segments)."""
    x = np.asarray(x, dtype=np.float64)
    nperseg = int(min(nperseg, x.size))
    if noverlap is None:
        noverlap = nperseg // 2
    noverlap = int(min(noverlap, nperseg - 1)) if nperseg > 1 else 0
    step = nperseg - noverlap
    w = hann(nperseg)
    scale = 1.0 / (fs * (w * w).sum())
    n_seg = max(1, (x.size - noverlap) // step)
    psd_acc = np.zeros(nperseg // 2 + 1)
    for s in range(n_seg):
        seg = x[s * step : s * step + nperseg]
        seg = seg - seg.mean()  # detrend='constant'
        spec = np.fft.rfft(seg * w)
        p = (spec.real**2 + spec.imag**2) * scale
        psd_acc += p
    psd = psd_acc / n_seg
    if nperseg % 2 == 0:
        psd[1:-1] *= 2.0  # one-sided doubling, Nyquist bin excluded
    else:
        psd[1:] *= 2.0
    freqs = np.fft.rfftfreq(nperseg, d=1.0 / fs)
    return freqs, psd


def dominant_frequency(x: np.ndarray, fs: float) -> float:
    """caits/fe/_statistical.py:542-571: welch with nperseg = len(x)
    (single segment), frequency of the PSD argmax."""
    freqs, psd = welch_psd(x, fs, nperseg=len(x))
    return float(freqs[int(np.argmax(psd))])


def simpson_dx(y: np.ndarray, dx: float) -> float:
    """Composite Simpson integration on a uniform grid (scipy.simpson
    semantics for even sample counts: Cartwright last-interval
    correction, matching modern scipy's default)."""
    y = np.asarray(y, dtype=np.float64)
    n = y.size
    if n < 2:
        return 0.0
    if n == 2:
        return float(0.5 * dx * (y[0] + y[1]))
    if n % 2 == 1:
        return float(dx / 3.0 * (y[0] + y[-1] + 4 * y[1:-1:2].sum() + 2 * y[2:-2:2].sum()))
    # even count: Simpson over first n-1 points + corrected last interval
    core = dx / 3.0 * (y[0] + y[-2] + 4 * y[1:-2:2].sum() + 2 * y[2:-3:2].sum())
    last = dx * (5.0 * y[-1] + 8.0 * y[-2] - y[-3]) / 12.0
    return float(core + last)


def band_relative_power(
    x: np.ndarray,
    fs: float,
    nperseg_th: int = 900,
    noverlap_th: int = 600,
    freq_cuts: list[tuple[float, float]] | None = None,
) -> np.ndarray:
    """power_spectral_density parity (caits/fe/_spectral.py:429-496):
    Welch PSD, Simpson total power, per-band Simpson / total."""
    if freq_cuts is None:
        freq_cuts = [(0, 200), (300, 425), (500, 650), (950, 1150),
                     (1400, 1800), (2300, 2400), (2850, 2950), (3800, 3900)]
    nperseg = min(nperseg_th, len(x))
    noverlap = int(min(noverlap_th, nperseg / 2))
    freqs, psd = welch_psd(x, fs, nperseg=nperseg, noverlap=noverlap)
    dxf = freqs[1] - freqs[0] if freqs.size > 1 else 1.0
    total = simpson_dx(psd, dxf)
    out = []
    for lf, hf in freq_cuts:
        m = (freqs >= lf) & (freqs <= hf)
        out.append(simpson_dx(psd[m], dxf) / total if total > 0 else 0.0)
    return np.asarray(out)


def spectral_bandwidth(x: np.ndarray, fs: float) -> float:
    """caits/fe/_spectral.py:178-256: std of the normalized one-sided
    power spectrum (two-sided FFT power, positive half doubled)."""
    x = np.asarray(x, dtype=np.float64)
    n = x.size
    ps = np.abs(np.fft.fft(x)) ** 2
    half = n // 2 if n % 2 == 0 else (n - 1) // 2
    ps = ps[:half] * 2
    tot = ps.sum()
    if tot <= 0:
        return 0.0
    ps = ps / tot
    freqs = np.fft.fftfreq(n, d=1.0 / fs)[: n // 2][:half]
    mean_freq = (freqs * ps).sum()
    return float(np.sqrt((((freqs - mean_freq) ** 2) * ps).sum()))
