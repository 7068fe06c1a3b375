"""Peak picking in pure numpy (no scipy in the sandbox), re-derived from
the public formula the reference wraps:

  find_peaks_simple  scipy.signal.find_peaks defaults, as used by
                     caits/fe/_statistical.py:476-538
                     (envelope_energy_peak_detection)

The ``eepd_counts`` query runs it per band inside its Arrow kernel. The
Welch / Simpson / bandwidth references live in oracle/spectral.py.
"""

from __future__ import annotations

import numpy as np


def find_peaks_simple(y: np.ndarray) -> np.ndarray:
    """Indices of local maxima, scipy.find_peaks default semantics:
    strictly greater than neighbors; plateaus count once at the plateau
    midpoint (left_edge + right_edge) // 2."""
    y = np.asarray(y, dtype=np.float64)
    peaks = []
    i = 1
    n = y.size
    while i < n - 1:
        if y[i] > y[i - 1]:
            # walk over a potential plateau
            j = i
            while j < n - 1 and y[j + 1] == y[j]:
                j += 1
            if j < n - 1 and y[j + 1] < y[j]:
                peaks.append((i + j) // 2)
            i = j + 1
        else:
            i += 1
    return np.asarray(peaks, dtype=np.int64)
