"""HyperLogLog sketch (pure numpy) — dense 8-bit registers.

Complements the engine's Theta/KMV distinct-count sketch
(``theta.py``): KMV is EXACT below k (the oracle-query regime) but its
state is 8 bytes per retained hash; HLL is never exact but holds
CPC-class accuracy in a fixed 2^lgk-byte state — RSE ≈ 1.04/sqrt(2^lgk),
so lgk=15 ≈ 0.57%, on par with the reference's published CPC accuracy
(+0.56% on BitcoinHeist, ``README.md:259-264``) at a fraction of KMV's
state size for large NDV.

This is the engine's own implementation for the accumulate/combine/
estimate lifecycle (SQL path and two-phase operator); the DataFrame
``approx_count_distinct_hll`` fast path still routes to Spark's native
JVM ``hll_sketch_agg`` built-ins (different, DataSketches-format states —
see ``functions/distinctcnt.py``).

Estimator: the raw harmonic-mean estimate with small-range linear
counting (Flajolet et al., "HyperLogLog: the analysis of a near-optimal
cardinality estimation algorithm", AofA'07).
"""

from __future__ import annotations

import struct

import numpy as np

from .serde import FAMILY_HLL, pack, unpack_versioned


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


class HllSketch:
    """HLL with a sparse coupon phase, then dense 2^lgk byte registers.

    Like Apache DataSketches HLL, the sketch starts SPARSE: it retains the
    raw 64-bit hashes in a set, so the estimate is EXACT (modulo 64-bit
    hash collisions, the same guarantee KMV gives) while NDV stays below
    ``2^(lgk-3)``. Past that it densifies to classic registers with
    RSE ~ 1.04/sqrt(2^lgk). Two practical wins beyond accuracy:

    * small-NDV groups serialize as ``8 * n`` bytes instead of a full
      ``2^lgk`` register block — in the two-phase operator most partial
      states are small, so the state shuffle shrinks with the data;
    * the exact regime means oracle/unit tests (and users counting small
      groups) see exact answers from the default path, while huge groups
      degrade gracefully to CPC-class error.

    ``lgk`` must be >= 12 so the rank computation stays within float64's
    exact-integer range."""

    __slots__ = ("lgk", "_regs", "_coupons")

    def __init__(self, lgk: int = 12):
        if not (12 <= lgk <= 20):
            raise ValueError("lgk must be in [12, 20]")
        self.lgk = int(lgk)
        self._regs: np.ndarray | None = None
        self._coupons: set[int] | None = set()

    @property
    def _sparse_cap(self) -> int:
        return 1 << (self.lgk - 3)

    @property
    def is_sparse(self) -> bool:
        return self._coupons is not None

    # ------------------------------------------------------------------ update

    def update_hashes(self, hashes: np.ndarray) -> None:
        """Fold 64-bit hashes in. Sparse: retain them; densify past the cap.
        Dense: index = top lgk bits, rank = leading-zero count of the
        remaining (64-lgk)-bit word + 1, register = max."""
        if len(hashes) == 0:
            return
        h = np.asarray(hashes, dtype=np.uint64)
        if self._coupons is not None:
            self._coupons.update(h.tolist())
            if len(self._coupons) > self._sparse_cap:
                self._densify()
            return
        self._fold_dense(h)

    def _fold_dense(self, h: np.ndarray) -> None:
        idx = (h >> np.uint64(64 - self.lgk)).astype(np.int64)
        w = (h << np.uint64(self.lgk)) >> np.uint64(self.lgk)
        # bit length via frexp exponent (w < 2^52 exact in float64)
        _, exp = np.frexp(w.astype(np.float64))
        rank = ((64 - self.lgk) - exp + 1).astype(np.uint8)
        np.maximum.at(self._regs, idx, rank)

    def _densify(self) -> None:
        coupons = self._coupons
        self._coupons = None
        self._regs = np.zeros(1 << self.lgk, dtype=np.uint8)
        if coupons:
            self._fold_dense(np.fromiter(coupons, dtype=np.uint64,
                                         count=len(coupons)))

    def registers(self) -> np.ndarray:
        """Dense register rendering (a copy; does not change the mode)."""
        if self._coupons is None:
            return self._regs.copy()
        snapshot = HllSketch(lgk=self.lgk)
        snapshot._coupons = set(self._coupons)
        snapshot._densify()
        return snapshot._regs

    # ------------------------------------------------------------------ merge

    def merge(self, other: "HllSketch") -> "HllSketch":
        if not isinstance(other, HllSketch):
            raise ValueError(
                f"cannot merge an HLL state with a {type(other).__name__} "
                "state: distinct-count states accumulated under different "
                "spark.sql.dataSketches.distinctCnt.sketchImpl settings are "
                "not mergeable. Re-accumulate one side — use "
                "approx_count_distinct_accumulate_theta for Theta states, "
                "or the default approx_count_distinct_accumulate for the "
                "conf-selected family.")
        if other.lgk != self.lgk:
            raise ValueError(
                f"cannot merge HLL sketches of different lgk "
                f"({self.lgk} vs {other.lgk})")
        if self._coupons is not None and other._coupons is not None:
            self._coupons.update(other._coupons)
            if len(self._coupons) > self._sparse_cap:
                self._densify()
            return self
        if self._coupons is not None:
            self._densify()
        if other._coupons is not None:
            if other._coupons:
                self._fold_dense(np.fromiter(other._coupons, dtype=np.uint64,
                                             count=len(other._coupons)))
        else:
            np.maximum(self._regs, other._regs, out=self._regs)
        return self

    # ------------------------------------------------------------------ query

    def estimate(self) -> int:
        if self._coupons is not None:
            return len(self._coupons)  # sparse phase: exact
        m = self._regs.size
        est = _alpha(m) * m * m / np.power(2.0, -self._regs.astype(np.float64)).sum()
        if est <= 2.5 * m:
            zeros = int((self._regs == 0).sum())
            if zeros:
                est = m * np.log(m / zeros)  # linear counting
        return int(round(est))

    # ------------------------------------------------------------------ serde
    # v2 payload: lgk(u8) | mode(u8: 0=dense, 1=sparse)
    #             | dense:  2^lgk register bytes
    #             | sparse: count(u32) + count * u64 hashes, ascending
    # v1 payload (pre-sparse-phase states): lgk(u8) | 2^lgk register bytes.
    # v1 is still decoded: by version byte, plus a length fallback
    # (len == 1 + 2^lgk) because early sparse-phase builds emitted the v2
    # layout under version byte 1.

    def serialize(self) -> bytes:
        if self._coupons is not None:
            # sorted: the bytes must not depend on the set's insertion
            # history, so any merge order or nesting gives the same state
            hashes = np.sort(np.fromiter(self._coupons, dtype=np.uint64,
                                         count=len(self._coupons)))
            payload = (struct.pack("<BBI", self.lgk, 1, hashes.size)
                       + hashes.tobytes())
        else:
            payload = struct.pack("<BB", self.lgk, 0) + self._regs.tobytes()
        return pack(FAMILY_HLL, payload)

    @classmethod
    def deserialize(cls, data: bytes) -> "HllSketch":
        family, payload, version = unpack_versioned(data)
        if family != FAMILY_HLL:
            raise ValueError(f"not an HLL state (family={family})")
        lgk = payload[0]
        if version == 1 and len(payload) == 1 + (1 << lgk):
            # legacy dense layout: no mode byte, registers follow lgk
            sk = cls(lgk=lgk)
            sk._coupons = None
            sk._regs = np.frombuffer(payload, dtype=np.uint8,
                                     count=1 << lgk, offset=1).copy()
            return sk
        lgk, mode = struct.unpack_from("<BB", payload, 0)
        sk = cls(lgk=lgk)
        if mode == 1:
            (n,) = struct.unpack_from("<I", payload, 2)
            hashes = np.frombuffer(payload, dtype=np.uint64, count=n, offset=6)
            sk._coupons = set(hashes.tolist())
            if len(sk._coupons) != n:
                raise ValueError("corrupt sparse HLL state")
        elif mode == 0:
            regs = np.frombuffer(payload, dtype=np.uint8, count=1 << lgk,
                                 offset=2)
            sk._coupons = None
            sk._regs = regs.copy()
        else:
            raise ValueError(f"unknown HLL mode {mode}")
        return sk
