"""Heavy-DSP tail: PCEN, HPSS, phase vocoder, time-stretch/pitch-shift,
polyphase resampling — pure numpy re-derivations of the public algorithms
the reference wraps:

  pcen_docs       caits/fe/_pcen.py:18-238 — Wang et al. 2017:
                  M(t) = (1-s)M(t-1) + s E(t)  (zero-init, forward IIR)
                  PCEN  = (E/(eps+M)^alpha + delta)^r - delta^r
                  (numpy reference: oracle/signal.pcen_base)
  hpss            caits/hpss.py:9-299 (Fitzgerald 2010 / librosa):
                  harmonic = median over time, percussive = median over
                  frequency, soft masks |H|^p/(|H|^p+|P|^p)
  phase_vocoder   caits/fe/core_spectrum/_phase.py:12-80 (Flanagan/Laroche)
  time_stretch_ts / pitch_shift_ts  caits/augmentation/_augment_1d.py:708,743
  resample_poly   caits/core/_core_resample.py:14-76 'polyphase' branch
                  (upsample-filter-downsample with a windowed-sinc FIR)
"""

from __future__ import annotations

import math

import numpy as np

from .dsp import istft, median_filter, stft

# ------------------------------------------------------------------ pcen


def pcen_docs(seqs, s: float = 0.1, eps: float = 1e-6, delta: float = 2.0,
              quantize: float = 1048576.0):
    """Exact distributed PCEN (caits/fe/_pcen.py:18-138 surface with
    gain(alpha)=1.0, power(r)=0.5, bias(delta)=2.0 and the smoother
    coefficient b pinned to ``s``): per doc, fold the token stream as the
    energy signal through

        M(t) = (1-s) M(t-1) + s E(t)        (zero-init forward IIR)
        v(t) = sqrt(E/(eps+M) + delta) - sqrt(delta)

    accumulating sum(floor(v * quantize)) — a single JVM-side
    ``F.aggregate`` higher-order fold, no Python in the loop. alpha=1 and
    r=1/2 make the DRC stage one division plus one sqrt: both are
    correctly-rounded IEEE ops, so a DuckDB list_reduce with the same
    literals and op order reproduces the checksum BITWISE (the
    butterworth-fold oracle family; pow with a non-integer exponent would
    not be cross-engine exact). Returns (doc_id, pcen_chk long).
    """
    from pyspark.sql import functions as F

    one_ms = 1.0 - s

    def step(acc, t):
        e = t.cast("double")
        m_new = F.lit(one_ms) * acc["m"] + F.lit(s) * e
        v = F.sqrt(e / (F.lit(eps) + m_new) + F.lit(delta)) - F.sqrt(F.lit(delta))
        return F.struct(
            m_new.alias("m"),
            (acc["chk"] + F.floor(v * F.lit(quantize)).cast("double")).alias("chk"),
        )

    init = F.struct(F.lit(0.0).alias("m"), F.lit(0.0).alias("chk"))
    return seqs.select(
        "doc_id",
        F.aggregate(F.col("tokens"), init, step)["chk"].cast("long").alias("pcen_chk"),
    )


# ------------------------------------------------------------------ hpss


def _softmask(X: np.ndarray, X_ref: np.ndarray, power: float = 2.0) -> np.ndarray:
    """librosa.util.softmask: X^p / (X^p + ref^p), safe at zeros."""
    Z = np.maximum(X, X_ref)
    bad = Z < np.finfo(np.float64).tiny
    Zs = np.where(bad, 1.0, Z)
    m = (X / Zs) ** power / ((X / Zs) ** power + (X_ref / Zs) ** power)
    return np.where(bad, 0.5, m)


def hpss(
    S: np.ndarray,
    kernel_size: int | tuple[int, int] = 31,
    power: float = 2.0,
    margin: float | tuple[float, float] = 1.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Harmonic/percussive separation of a magnitude (or complex) STFT
    (caits/hpss.py:59-299): harmonic enhanced by a median filter along
    time, percussive along frequency, combined through soft masks. Returns
    (H, P) with the same dtype semantics as the input (masks multiply S)."""
    mag = np.abs(S)
    kt, kf = (kernel_size, kernel_size) if isinstance(kernel_size, int) else kernel_size
    mh, mp = (margin, margin) if not isinstance(margin, tuple) else margin
    if mh < 1 or mp < 1:
        raise ValueError("margins must be >= 1.0")
    harm = np.apply_along_axis(median_filter, 1, mag, kt)  # along time
    perc = np.apply_along_axis(median_filter, 0, mag, kf)  # along frequency
    mask_h = _softmask(harm, perc * mh, power=power)
    mask_p = _softmask(perc, harm * mp, power=power)
    return S * mask_h, S * mask_p


def hpss_signal(
    x: np.ndarray, n_fft: int = 256, hop: int = 64, **kw
) -> tuple[np.ndarray, np.ndarray]:
    """Time-domain HPSS: stft -> masks -> istft (caits/hpss.py:9-56)."""
    x = np.asarray(x, dtype=np.float64)
    D = stft(x, n_fft=n_fft, hop=hop)
    H, P = hpss(D, **kw)
    return (
        istft(H, n_fft=n_fft, hop=hop, length=x.size),
        istft(P, n_fft=n_fft, hop=hop, length=x.size),
    )


# --------------------------------------------------------- phase vocoder


def phase_vocoder(
    D: np.ndarray, rate: float, hop_length: int | None = None, n_fft: int | None = None
) -> np.ndarray:
    """Speed up by `rate` (caits/fe/core_spectrum/_phase.py:12-80, the
    classic Laroche/Dolson algorithm): linear magnitude interpolation at
    fractional frames + phase accumulation by deviation from the expected
    per-bin advance."""
    if n_fft is None:
        n_fft = 2 * (D.shape[0] - 1)
    if hop_length is None:
        hop_length = n_fft // 4
    time_steps = np.arange(0, D.shape[1], rate, dtype=np.float64)
    phi_advance = np.linspace(0, np.pi * hop_length, D.shape[0])
    out = np.zeros((D.shape[0], len(time_steps)), dtype=complex)
    phase_acc = np.angle(D[:, 0])
    Dpad = np.concatenate([D, np.zeros((D.shape[0], 2), dtype=D.dtype)], axis=1)
    for t, step in enumerate(time_steps):
        i = int(step)
        frac = step - i
        c1, c2 = Dpad[:, i], Dpad[:, i + 1]
        mag = (1.0 - frac) * np.abs(c1) + frac * np.abs(c2)
        out[:, t] = mag * np.exp(1j * phase_acc)
        dphase = np.angle(c2) - np.angle(c1) - phi_advance
        dphase -= 2.0 * np.pi * np.round(dphase / (2.0 * np.pi))
        phase_acc += phi_advance + dphase
    return out


def time_stretch_ts(x: np.ndarray, rate: float, n_fft: int = 256, hop: int = 64) -> np.ndarray:
    """caits/augmentation/_augment_1d.py:708-741: stft -> phase_vocoder ->
    istft with length round(n/rate)."""
    if rate <= 0:
        raise ValueError("rate must be positive")
    x = np.asarray(x, dtype=np.float64)
    D = stft(x, n_fft=n_fft, hop=hop)
    D2 = phase_vocoder(D, rate=rate, hop_length=hop, n_fft=n_fft)
    return istft(D2, n_fft=n_fft, hop=hop, length=int(round(x.size / rate)))


def pitch_shift_ts(
    x: np.ndarray, sr: float, n_steps: float, bins_per_octave: int = 12,
    n_fft: int = 256, hop: int = 64,
) -> np.ndarray:
    """caits/augmentation/_augment_1d.py:743-800: time-stretch by
    2^(-steps/bpo) then resample back to the original length."""
    rate = 2.0 ** (-float(n_steps) / bins_per_octave)
    stretched = time_stretch_ts(x, rate, n_fft=n_fft, hop=hop)
    out = resample_poly_arbitrary(stretched, x.size)
    return out[: x.size]


# ------------------------------------------------------------- resample


def _sinc_fir(num_taps: int, cutoff: float) -> np.ndarray:
    """Windowed-sinc lowpass FIR (Hann window), cutoff in (0, 1) of
    Nyquist — the public polyphase anti-aliasing prototype."""
    n = np.arange(num_taps) - (num_taps - 1) / 2.0
    h = cutoff * np.sinc(cutoff * n)
    w = 0.5 + 0.5 * np.cos(2 * np.pi * n / num_taps)
    h = h * w
    return h / h.sum()


def resample_poly(x: np.ndarray, up: int, down: int, taps_per_phase: int = 24) -> np.ndarray:
    """Polyphase rational resampling (scipy.resample_poly semantics:
    zero-stuff by `up`, windowed-sinc lowpass at min(1/up, 1/down) of the
    upsampled Nyquist with gain `up`, decimate by `down`; output length
    ceil(len * up / down))."""
    x = np.asarray(x, dtype=np.float64)
    g = math.gcd(up, down)
    up //= g
    down //= g
    if up == 1 and down == 1:
        return x.copy()
    n_taps = 2 * taps_per_phase * max(up, down) + 1
    h = _sinc_fir(n_taps, min(1.0 / up, 1.0 / down)) * up
    ups = np.zeros(x.size * up)
    ups[::up] = x
    # direct convolution is O(n*m); switch to FFT overlap when the product
    # gets large (polyphase FIRs grow with max(up, down))
    if ups.size * h.size > 4_000_000:
        n_fft = 1 << int(np.ceil(np.log2(ups.size + h.size - 1)))
        full = np.fft.irfft(np.fft.rfft(ups, n_fft) * np.fft.rfft(h, n_fft), n_fft)[
            : ups.size + h.size - 1
        ]
    else:
        full = np.convolve(ups, h)
    delay = (n_taps - 1) // 2
    out_len = int(np.ceil(x.size * up / down))
    y = full[delay : delay + x.size * up : down]
    return y[:out_len] if y.size >= out_len else np.pad(y, (0, out_len - y.size))


def resample_poly_arbitrary(x: np.ndarray, target_len: int) -> np.ndarray:
    """Rational-approximation resample to an exact target length."""
    if target_len == x.size:
        return np.asarray(x, dtype=np.float64).copy()
    from fractions import Fraction

    frac = Fraction(target_len, x.size).limit_denominator(64)
    y = resample_poly(x, frac.numerator, frac.denominator)
    if y.size < target_len:
        y = np.pad(y, (0, target_len - y.size))  # bounded rational approx:
    return y[:target_len]  # at most a few samples of pad/trim at the tail


# ------------------------------------------------------------- time warp


def time_warp_np(x: np.ndarray, seed: int, n_speed_change: int = 3, max_ratio: float = 2.0) -> np.ndarray:
    """time_warp_ts parity (caits/augmentation/_augment_1d.py:598-655,
    tsaug TimeWarp): a random smooth monotonic time warp — knot positions
    jittered within their segments (keeping monotonicity), signal linearly
    interpolated at the warped grid. Deterministic via the explicit seed
    (the Spark layer derives it from doc_id)."""
    x = np.asarray(x, dtype=np.float64)
    n = x.size
    if n < 4:
        return x.copy()
    rng = np.random.default_rng(seed)
    k = n_speed_change + 1
    src = np.linspace(0, n - 1, k + 1)
    dst = src.copy()
    seg = (n - 1) / k
    jitter = rng.uniform(-0.5 * (1 - 1 / max_ratio), 0.5 * (1 - 1 / max_ratio), size=k - 1)
    dst[1:k] = src[1:k] + jitter * seg
    dst.sort()  # monotone guard
    warped_t = np.interp(np.arange(n, dtype=np.float64), dst, src)
    return np.interp(warped_t, np.arange(n, dtype=np.float64), x)
