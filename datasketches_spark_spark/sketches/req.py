"""REQ quantile sketch — relative rank error, high-rank accuracy (HRA).

Re-implements the capability of the reference's *default* quantile impl
(``DataSketchConf.scala:36-41`` selects REQ; wrapper
``quantileSketches.scala:387-405`` around DataSketches ``ReqSketch``),
following the published algorithm family of Cormode, Karnin, Liberty,
Thaler & Vesely, "Relative Error Streaming Quantiles" (PODS'21): a stack of
compactors where the *highest-ranked* items of each compactor are protected
from compaction, so rank error at the top of the distribution (p99/p999 —
where relative-error users live) stays near zero while low ranks degrade
gracefully. KLL, by contrast, spends its error budget uniformly across
ranks.

Engineering choices (documented divergence — this is a Spark-first rebuild,
not a byte-compatible port; the DataSketches wire format is unavailable
here, see serde.py):

* Same level/weight representation as the engine's KLL core
  (``kll.py``: items at level h carry weight ``2**h``), so query code
  (quantile / pmf / merge physics) is shared; only capacity and compaction
  policy differ.
* Every level has uniform capacity ``2 * numSections * k`` (sections=3,
  reference default k=12 → 72 items/level); levels grow ~log2(n/cap).
* Compaction sorts the level, protects the top half (HRA), and promotes
  every other item of the bottom half — items near the maximum always sort
  into the protected half and are never degraded.
* Values are float32, the reference's REQ value type
  (``quantileSketches.scala:250-255``).

EXACT while only level 0 exists (n <= 6k with defaults), like the other
families — the regime oracle-checked queries use with an explicit large k.
"""

from __future__ import annotations

import numpy as np

from .kll import KllSketch
from .serde import FAMILY_REQ

_NUM_SECTIONS = 3


class ReqSketch(KllSketch):
    """Relative-error quantile sketch (HRA). ``k`` is the section size
    (reference default 12); per-level capacity is ``2 * 3 * k``."""

    FAMILY = FAMILY_REQ

    __slots__ = ()

    def __init__(self, k: int = 12, dtype=np.float32):
        if k < 4:
            raise ValueError("REQ k must be >= 4")
        super().__init__(k=k, dtype=dtype)

    def _cap(self, depth: int) -> int:
        # uniform per-level capacity, independent of depth
        return 2 * _NUM_SECTIONS * self.k

    def _compact_level(self, arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        # Protect the top half (high ranks); promote every other item of an
        # EVEN-sized bottom region (odd leftover stays — see the KLL
        # base-class note on weight-exact compaction).
        half = arr.size // 2
        odd = half % 2
        low = arr[odd:half]
        offset = self._coin()
        kept = np.concatenate([arr[:odd], arr[half:]])
        return kept, low[offset::2].copy()
