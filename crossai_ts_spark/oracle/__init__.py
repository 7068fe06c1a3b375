"""Single-machine numpy reference ("oracle") implementation.

This is the golden source for pytest: the Spark engine's rolled-up points
must bitwise-match these per retention tier (BASELINE.json north_rule).
No query, job or stream imports this package; it also holds the golden
codecs (``codecs``), the signal-kernel references (``signal``) and the
brute-force Spark plans the scale paths are checked against (``plans``).
Semantics mirror the reference library:
  - tumbling chunks keep the ragged tail (caits/windowing.py:188-202)
  - aggregates are full-window reductions (caits/fe/_statistical.py)
  - LOCF == zero-order-hold (caits/core/_core_resample.py:45-54)
  - linear interp == np.interp semantics (caits/preprocessing.py:55)
"""

from .rollup import cascade_oracle, rollup_doc, rollup_frame  # noqa: F401
from .gapfill import gapfill_linear, gapfill_locf  # noqa: F401
