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

from .dsp import HOP, istft, median_filter, stft

# ------------------------------------------------------------------ pcen

# PCEN smoother coefficient, floor, bias and checksum quantizer; the DuckDB
# oracle builds its fold from the same values
PCEN_S = 0.1
PCEN_EPS = 1e-6
PCEN_DELTA = 2.0
PCEN_Q = 1048576.0


def pcen_docs(seqs):
    """Exact distributed PCEN (caits/fe/_pcen.py:18-138 surface with
    gain(alpha)=1.0, power(r)=0.5, bias(delta)=2.0 and the smoother
    coefficient b pinned to ``s``): per doc, fold the token stream as the
    energy signal through

        M(t) = (1-s) M(t-1) + s E(t)        (zero-init forward IIR)
        v(t) = sqrt(E/(eps+M) + delta) - sqrt(delta)

    with s, eps, delta = PCEN_S, PCEN_EPS, PCEN_DELTA, accumulating
    sum(floor(v * PCEN_Q)) — a single JVM-side
    ``F.aggregate`` higher-order fold, no Python in the loop. alpha=1 and
    r=1/2 make the DRC stage one division plus one sqrt: both are
    correctly-rounded IEEE ops, so a DuckDB list_reduce with the same
    literals and op order reproduces the checksum BITWISE (the
    butterworth-fold oracle family; pow with a non-integer exponent would
    not be cross-engine exact). Returns (doc_id, pcen_chk long).
    """
    from pyspark.sql import functions as F

    one_ms = 1.0 - PCEN_S
    delta = F.lit(PCEN_DELTA)

    def step(acc, t):
        e = t.cast("double")
        m_new = F.lit(one_ms) * acc["m"] + F.lit(PCEN_S) * e
        v = F.sqrt(e / (F.lit(PCEN_EPS) + m_new) + delta) - F.sqrt(delta)
        return F.struct(
            m_new.alias("m"),
            (acc["chk"] + F.floor(v * F.lit(PCEN_Q)).cast("double")).alias("chk"),
        )

    init = F.struct(F.lit(0.0).alias("m"), F.lit(0.0).alias("chk"))
    return seqs.select(
        "doc_id",
        F.aggregate(F.col("tokens"), init, step)["chk"].cast("long").alias("pcen_chk"),
    )


# ------------------------------------------------------------------ hpss


def _softmask(X: np.ndarray, X_ref: np.ndarray) -> np.ndarray:
    """librosa.util.softmask with power 2: X^2 / (X^2 + ref^2), safe at zeros."""
    Z = np.maximum(X, X_ref)
    bad = Z < np.finfo(np.float64).tiny
    Zs = np.where(bad, 1.0, Z)
    m = (X / Zs) ** 2.0 / ((X / Zs) ** 2.0 + (X_ref / Zs) ** 2.0)
    return np.where(bad, 0.5, m)


def hpss(S: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Harmonic/percussive separation of a magnitude (or complex) STFT
    (caits/hpss.py:59-299, power 2, margin 1): harmonic enhanced by a
    31-bin median filter along time, percussive along frequency, combined
    through soft masks. Returns (H, P) with the same dtype semantics as the
    input (masks multiply S)."""
    mag = np.abs(S)
    harm = np.apply_along_axis(median_filter, 1, mag, 31)  # along time
    perc = np.apply_along_axis(median_filter, 0, mag, 31)  # along frequency
    return S * _softmask(harm, perc), S * _softmask(perc, harm)


def hpss_signal(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Time-domain HPSS: stft -> masks -> istft (caits/hpss.py:9-56)."""
    x = np.asarray(x, dtype=np.float64)
    H, P = hpss(stft(x))
    return istft(H, length=x.size), istft(P, length=x.size)


# --------------------------------------------------------- phase vocoder

# pitch_shift_ts' shift in semitones
PITCH_STEPS = 2


def phase_vocoder(D: np.ndarray, rate: float) -> np.ndarray:
    """Speed up an N_FFT/HOP STFT by `rate` (caits/fe/core_spectrum/_phase.py:12-80,
    the classic Laroche/Dolson algorithm): linear magnitude interpolation at
    fractional frames + phase accumulation by deviation from the expected
    per-bin advance."""
    time_steps = np.arange(0, D.shape[1], rate, dtype=np.float64)
    phi_advance = np.linspace(0, np.pi * HOP, D.shape[0])
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


def time_stretch_ts(x: np.ndarray, rate: float) -> np.ndarray:
    """caits/augmentation/_augment_1d.py:708-741: stft -> phase_vocoder ->
    istft with length round(n/rate)."""
    if rate <= 0:
        raise ValueError("rate must be positive")
    x = np.asarray(x, dtype=np.float64)
    D2 = phase_vocoder(stft(x), rate=rate)
    return istft(D2, length=int(round(x.size / rate)))


def pitch_shift_ts(x: np.ndarray) -> np.ndarray:
    """caits/augmentation/_augment_1d.py:743-800: shift up PITCH_STEPS
    semitones — time-stretch by 2^(-PITCH_STEPS/12) (12 bins per octave)
    then resample back to the original length."""
    rate = 2.0 ** (-float(PITCH_STEPS) / 12)
    stretched = time_stretch_ts(x, rate)
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


def resample_poly(x: np.ndarray, up: int, down: int) -> np.ndarray:
    """Polyphase rational resampling (scipy.resample_poly semantics:
    zero-stuff by `up`, windowed-sinc lowpass (24 taps per phase) at
    min(1/up, 1/down) of the upsampled Nyquist with gain `up`, decimate by
    `down`; output length ceil(len * up / down))."""
    x = np.asarray(x, dtype=np.float64)
    g = math.gcd(up, down)
    up //= g
    down //= g
    if up == 1 and down == 1:
        return x.copy()
    n_taps = 2 * 24 * max(up, down) + 1
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


def time_warp_np(x: np.ndarray, seed: int) -> np.ndarray:
    """time_warp_ts parity (caits/augmentation/_augment_1d.py:598-655,
    tsaug TimeWarp with 3 speed changes and max ratio 2): a random smooth
    monotonic time warp — knot positions
    jittered within their segments (keeping monotonicity), signal linearly
    interpolated at the warped grid. Deterministic via the explicit seed
    (the Spark layer derives it from doc_id)."""
    x = np.asarray(x, dtype=np.float64)
    n = x.size
    if n < 4:
        return x.copy()
    rng = np.random.default_rng(seed)
    k = 4
    src = np.linspace(0, n - 1, k + 1)
    dst = src.copy()
    seg = (n - 1) / k
    jitter = rng.uniform(-0.5 * (1 - 1 / 2.0), 0.5 * (1 - 1 / 2.0), size=k - 1)
    dst[1:k] = src[1:k] + jitter * seg
    dst.sort()  # monotone guard
    warped_t = np.interp(np.arange(n, dtype=np.float64), dst, src)
    return np.interp(warped_t, np.arange(n, dtype=np.float64), x)
