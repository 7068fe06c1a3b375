"""DSP kernels in pure numpy (the sandbox has no scipy/librosa).

Covers the reference's librosa-derived §2.8 surface with from-scratch
implementations of the same public formulas:

  frame           caits/core/_core_window.py:12-49  (strided framing)
  stft            caits/fe/_spectrum.py:563-863     (windowed rFFT frames)
  istft           caits/fe/_spectrum.py:866-1081    (overlap-add + win-sumsq)
  spectrogram     caits/fe/_spectrum.py:343-429     (|stft|^power)
  mel filterbank  caits/fe/core_spectrum/_utils.py:160-217 (HTK mel, area-norm)
  melspectrogram  caits/fe/_spectrum.py:27-133
  mfcc            caits/fe/_spectrum.py:532-560     (DCT-II ortho of log-mel)
  moving_average / gaussian_filter1d / median_filter (caits/filtering.py
  kernel-smoother family; Butterworth needs an IIR designer — implemented
  as a first-order-cascade approximation `butterworth_lowpass_fo`)
  hilbert envelope caits/properties.py:9-71 (analytic signal via FFT)

All are per-sequence kernels -> exposed through Arrow (`dsp_features`) so
Spark-side plumbing stays vectorized and narrow.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..workers import worker_kernel


# ----------------------------------------------------------------- core


def frame(x: np.ndarray, frame_length: int, hop: int) -> np.ndarray:
    """(n,) -> (n_frames, frame_length) strided view (copy-free)."""
    x = np.asarray(x)
    if x.size < frame_length:
        return np.empty((0, frame_length), dtype=x.dtype)
    return np.lib.stride_tricks.sliding_window_view(x, frame_length)[::hop]


def hann(n: int) -> np.ndarray:
    """Periodic Hann window (the STFT convention)."""
    return 0.5 * (1.0 - np.cos(2.0 * np.pi * np.arange(n) / n))


def stft(
    x: np.ndarray,
    n_fft: int = 256,
    hop: int = 64,
    center: bool = True,
    window: np.ndarray | None = None,
) -> np.ndarray:
    """Complex STFT, shape (1 + n_fft//2, n_frames)."""
    x = np.asarray(x, dtype=np.float64)
    w = hann(n_fft) if window is None else window
    if center:
        x = np.pad(x, n_fft // 2, mode="reflect") if x.size > n_fft // 2 else np.pad(
            x, n_fft // 2, mode="constant"
        )
    frames = frame(x, n_fft, hop)
    return np.fft.rfft(frames * w, axis=1).T


def istft(
    S: np.ndarray, n_fft: int = 256, hop: int = 64, center: bool = True,
    length: int | None = None,
) -> np.ndarray:
    """Inverse STFT via overlap-add with window-sum-square normalization."""
    w = hann(n_fft)
    frames = np.fft.irfft(S.T, n=n_fft, axis=1) * w
    n = n_fft + hop * (frames.shape[0] - 1)
    out = np.zeros(n)
    wss = np.zeros(n)
    for i, f in enumerate(frames):
        out[i * hop : i * hop + n_fft] += f
        wss[i * hop : i * hop + n_fft] += w * w
    nz = wss > 1e-12
    out[nz] /= wss[nz]
    if center:
        out = out[n_fft // 2 :]
    if length is not None:
        out = out[:length]
    return out


def spectrogram(x: np.ndarray, n_fft: int = 256, hop: int = 64, power: float = 2.0) -> np.ndarray:
    return np.abs(stft(x, n_fft, hop)) ** power


# ------------------------------------------------------------------ mel


def hz_to_mel(f):
    return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64) / 700.0)


def mel_to_hz(m):
    return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)


def mel_filterbank(
    sr: float, n_fft: int, n_mels: int = 20, fmin: float = 0.0, fmax: float | None = None
) -> np.ndarray:
    """(n_mels, 1 + n_fft//2) triangular HTK-mel filters, Slaney area-norm."""
    fmax = fmax or sr / 2.0
    freqs = np.fft.rfftfreq(n_fft, d=1.0 / sr)
    mel_pts = mel_to_hz(np.linspace(hz_to_mel(fmin), hz_to_mel(fmax), n_mels + 2))
    fb = np.zeros((n_mels, freqs.size))
    for i in range(n_mels):
        lo, ctr, hi = mel_pts[i : i + 3]
        up = (freqs - lo) / max(ctr - lo, 1e-12)
        down = (hi - freqs) / max(hi - ctr, 1e-12)
        fb[i] = np.maximum(0.0, np.minimum(up, down))
        norm = 2.0 / max(hi - lo, 1e-12)
        fb[i] *= norm
    return fb


def melspectrogram(
    x: np.ndarray, sr: float = 1.0, n_fft: int = 256, hop: int = 64, n_mels: int = 20
) -> np.ndarray:
    S = spectrogram(x, n_fft, hop, power=2.0)
    return mel_filterbank(sr, n_fft, n_mels) @ S


def dct2_ortho(n_out: int, n_in: int) -> np.ndarray:
    """DCT-II matrix with 'ortho' norm (what scipy.fft.dct(type=2) uses)."""
    k = np.arange(n_out)[:, None]
    i = np.arange(n_in)[None, :]
    m = np.cos(np.pi * k * (2 * i + 1) / (2 * n_in)) * np.sqrt(2.0 / n_in)
    m[0] /= np.sqrt(2.0)
    return m


def mfcc(
    x: np.ndarray, sr: float = 1.0, n_mfcc: int = 13, n_fft: int = 256, hop: int = 64,
    n_mels: int = 20,
) -> np.ndarray:
    """(n_mfcc, n_frames): DCT-II of log mel power."""
    m = melspectrogram(x, sr, n_fft, hop, n_mels)
    logm = 10.0 * np.log10(np.maximum(m, 1e-10))
    return dct2_ortho(n_mfcc, n_mels) @ logm


# -------------------------------------------------------------- filters


def moving_average(x: np.ndarray, k: int) -> np.ndarray:
    """Same-length centered moving average (edge-shrunk)."""
    x = np.asarray(x, dtype=np.float64)
    c = np.cumsum(np.concatenate(([0.0], x)))
    lo = np.maximum(np.arange(x.size) - (k - 1) // 2, 0)
    hi = np.minimum(np.arange(x.size) + k // 2 + 1, x.size)
    return (c[hi] - c[lo]) / (hi - lo)


def gaussian_filter1d(x: np.ndarray, sigma: float) -> np.ndarray:
    """Reflect-padded Gaussian smoothing (matches scipy's default mode)."""
    x = np.asarray(x, dtype=np.float64)
    r = max(1, int(4.0 * sigma + 0.5))
    k = np.exp(-0.5 * (np.arange(-r, r + 1) / sigma) ** 2)
    k /= k.sum()
    xp = np.pad(x, r, mode="reflect")
    return np.convolve(xp, k, mode="valid")


def median_filter(x: np.ndarray, k: int) -> np.ndarray:
    """Centered rolling median, edge-padded (reflect)."""
    x = np.asarray(x, dtype=np.float64)
    r = k // 2
    xp = np.pad(x, r, mode="reflect")
    sw = np.lib.stride_tricks.sliding_window_view(xp, k)
    return np.median(sw[: x.size], axis=1)


def butterworth_lowpass_fo(x: np.ndarray, cutoff: float, fs: float, order: int = 2) -> np.ndarray:
    """Cascaded first-order IIR low-pass (bilinear transform) — an
    order-N Butterworth approximation without scipy's designer. Forward-
    backward applied (filtfilt-style) for zero phase."""
    x = np.asarray(x, dtype=np.float64)
    wc = np.tan(np.pi * cutoff / fs)
    a = (1.0 - wc) / (1.0 + wc)
    b = wc / (1.0 + wc)

    def fo(sig):
        out = np.empty_like(sig)
        prev_y = sig[0]
        prev_x = sig[0]
        for i, v in enumerate(sig):
            prev_y = b * (v + prev_x) + a * prev_y
            prev_x = v
            out[i] = prev_y
        return out

    y = x
    for _ in range(order):
        y = fo(y)
    y = y[::-1]
    for _ in range(order):
        y = fo(y)
    return y[::-1]


def hilbert_envelope(x: np.ndarray) -> np.ndarray:
    """|analytic signal| via the FFT construction (scipy.signal.hilbert)."""
    x = np.asarray(x, dtype=np.float64)
    n = x.size
    X = np.fft.fft(x)
    h = np.zeros(n)
    if n % 2 == 0:
        h[0] = h[n // 2] = 1.0
        h[1 : n // 2] = 2.0
    else:
        h[0] = 1.0
        h[1 : (n + 1) // 2] = 2.0
    return np.abs(np.fft.ifft(X * h))


# --------------------------------------------------------- spark surface

DSP_SCHEMA = (
    "doc_id string, n_frames long, mfcc0_mean double, mfcc1_mean double, "
    "mel_energy double, envelope_max double, smoothed_rms double, "
    "mfcc0_std double, mfcc0_min double, mfcc0_max double, delta_rms double"
)


def dsp_features(df: DataFrame, n_fft: int = 128, hop: int = 32) -> DataFrame:
    """Composite DSP feature row per doc (STFT-family + filters), Arrow-batched."""

    @worker_kernel
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["tokens"]):
                x = np.asarray(toks, dtype=np.float64)
                if x.size < n_fft:
                    x = np.pad(x, (0, n_fft - x.size))
                mf = mfcc(x, sr=1.0, n_mfcc=4, n_fft=n_fft, hop=hop, n_mels=12)
                mel = melspectrogram(x, 1.0, n_fft, hop, 12)
                env = hilbert_envelope(x - x.mean())
                sm = gaussian_filter1d(x, sigma=2.0)
                # mfcc_stats composite (caits/fe/_spectrum.py:432-462:
                # per-coefficient mean/std/min/max over frames) + savgol
                # delta (:465-529) RMS
                from .spectral2 import savgol_delta

                d = (
                    savgol_delta(mf[0], width=9, order=1)
                    if mf.shape[1] >= 9
                    else np.zeros(1)
                )
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_frames": np.int64(mf.shape[1]),
                        "mfcc0_mean": float(mf[0].mean()),
                        "mfcc1_mean": float(mf[1].mean()),
                        "mel_energy": float(mel.sum()),
                        "envelope_max": float(env.max()),
                        "smoothed_rms": float(np.sqrt((sm * sm).mean())),
                        "mfcc0_std": float(mf[0].std()),
                        "mfcc0_min": float(mf[0].min()),
                        "mfcc0_max": float(mf[0].max()),
                        "delta_rms": float(np.sqrt((d * d).mean())),
                    }
                )
            yield pd.DataFrame(rows)

    return df.select("doc_id", "tokens").mapInPandas(kernel, schema=DSP_SCHEMA)
