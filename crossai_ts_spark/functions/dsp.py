"""DSP kernels in pure numpy (the sandbox has no scipy/librosa).

From-scratch implementations of the reference's librosa-derived §2.8
framing/STFT formulas:

  frame           caits/core/_core_window.py:12-49  (strided framing)
  stft            caits/fe/_spectrum.py:563-863     (windowed rFFT frames)
  istft           caits/fe/_spectrum.py:866-1081    (overlap-add + win-sumsq)
  median_filter   caits/filtering.py kernel-smoother family

Per-sequence kernels called inside other Arrow kernels: ``hann`` by the
window-function queries and ``operators/augment``, ``stft``/``istft``/
``median_filter`` by ``dsp2`` (HPSS, phase-vocoder time stretch).
"""

from __future__ import annotations

import numpy as np

# the STFT frame of every kernel that resynthesizes through istft
N_FFT = 256
HOP = 64


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


def stft(x: np.ndarray) -> np.ndarray:
    """Complex Hann-windowed centered N_FFT/HOP STFT, shape
    (1 + N_FFT//2, n_frames)."""
    x = np.asarray(x, dtype=np.float64)
    pad = "reflect" if x.size > N_FFT // 2 else "constant"
    frames = frame(np.pad(x, N_FFT // 2, mode=pad), N_FFT, HOP)
    return np.fft.rfft(frames * hann(N_FFT), axis=1).T


def istft(S: np.ndarray, length: int | None = None) -> np.ndarray:
    """Inverse of the centered N_FFT/HOP :func:`stft` via overlap-add with
    window-sum-square normalization."""
    w = hann(N_FFT)
    frames = np.fft.irfft(S.T, n=N_FFT, axis=1) * w
    n = N_FFT + HOP * (frames.shape[0] - 1)
    out = np.zeros(n)
    wss = np.zeros(n)
    for i, f in enumerate(frames):
        out[i * HOP : i * HOP + N_FFT] += f
        wss[i * HOP : i * HOP + N_FFT] += w * w
    nz = wss > 1e-12
    out[nz] /= wss[nz]
    out = out[N_FFT // 2 :]
    if length is not None:
        out = out[:length]
    return out


# -------------------------------------------------------------- filters


def median_filter(x: np.ndarray, k: int) -> np.ndarray:
    """Centered rolling median, edge-padded (reflect)."""
    x = np.asarray(x, dtype=np.float64)
    r = k // 2
    xp = np.pad(x, r, mode="reflect")
    sw = np.lib.stride_tricks.sliding_window_view(xp, k)
    return np.median(sw[: x.size], axis=1)
