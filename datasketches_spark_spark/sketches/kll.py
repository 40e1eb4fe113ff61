"""KLL quantile sketch (pure numpy).

Re-implements the capability of the reference's quantile family
(``quantileSketches.scala:42-142``: KLL / REQ / classic ``DoublesSketch``
wrappers around the DataSketches Java library) as a single KLL implementation
parameterized by ``k`` and value dtype:

* ``dtype=float32`` reproduces the reference's float down-cast semantics
  (``quantileSketches.scala:250-255``: every numeric is fed to the sketch as
  a Float).
* ``dtype=float64`` corresponds to the reference's MERGEABLE
  (``DoublesSketch``) family which re-widens float->double
  (``quantileSketches.scala:124-127``).

KLL (Karnin-Lang-Liberty, "Optimal Quantile Approximation in Streams",
FOCS'16) keeps a hierarchy of levels; items at level ``h`` carry weight
``2**h``.  While only level 0 exists (n <= capacity) the sketch is EXACT —
this engine's correctness queries exploit that regime.

Quantile rank rules (``rule`` parameter on quantile/quantiles):

* ``"disc"`` (default) — SQL ``quantile_disc`` semantics: the smallest
  retained value whose cumulative weight >= max(ceil(p * n), 1). This is
  the engine contract and what the DuckDB oracle checks.
* ``"exclusive"`` — the Apache DataSketches v2 getQuantile rule the
  reference inherits (its own suite pins it:
  ``ApproximateQuerySuite.scala:32-49`` expects p50 of {0,1,2,10} = 2):
  the value at 0-based position floor(p * n), i.e. cumulative weight
  >= floor(p * n) + 1. The two rules differ by at most one retained rank
  and converge for large n; conf
  ``spark.sql.dataSketches.quantiles.rankRule`` selects the default for
  the function surfaces (reference-migrating users set ``exclusive`` to
  reproduce their old answers bit-for-bit).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .serde import FAMILY_KLL, pack, unpack_versioned

_MIN_LEVEL_CAP = 8
_GROWTH = 2.0 / 3.0

_DTYPE_CODES = {np.dtype("float32"): 0, np.dtype("float64"): 1}
_CODE_DTYPES = {v: k for k, v in _DTYPE_CODES.items()}


def _level_cap(k: int, depth: int) -> int:
    """Capacity of a level ``depth`` below the top level."""
    return max(int(math.ceil(k * (_GROWTH ** depth))), _MIN_LEVEL_CAP)


class KllSketch:
    """Mergeable quantile sketch over float32/float64 values."""

    FAMILY = FAMILY_KLL

    __slots__ = ("k", "dtype", "n", "_levels", "_buf", "_buf_len", "_rng",
                 "_min", "_max")

    def __init__(self, k: int = 200, dtype=np.float32):
        self.k = int(k)
        self.dtype = np.dtype(dtype)
        if self.dtype not in _DTYPE_CODES:
            raise ValueError(f"unsupported dtype {dtype}")
        self.n = 0
        # EXACT stream extrema, tracked through update/merge/serde —
        # compaction drops extreme items, so the retained multiset
        # understates the true range once n exceeds capacity. The
        # reference's DataSketches KLL/REQ/Doubles all track and
        # serialize these exactly (getMinValue/getMaxValue). None only
        # for empty sketches or states decoded from pre-v3 engine wire.
        self._min: float | None = None
        self._max: float | None = None
        # _levels[h] : np.ndarray of items with weight 2**h (h >= 1 sorted-ish,
        # sorted lazily at query/compaction time). Level 0 is buffered in _buf.
        self._levels: list[np.ndarray] = [np.empty(0, self.dtype)]
        self._buf: list[np.ndarray] = []
        self._buf_len = 0
        # Compaction coin flips come from a generator with a fixed seed,
        # so they are reproducible for a given input order. It is built
        # on the first flip (:meth:`_coin`): building one costs more than
        # decoding a small state, and exact-regime sketches never flip.
        self._rng = None

    # ------------------------------------------------------------------ udpate

    def update_batch(self, values: np.ndarray) -> None:
        v = np.asarray(values)
        if v.size == 0:
            return
        v = v[~np.isnan(v.astype(np.float64))] if v.dtype.kind == "f" else v
        if v.size == 0:
            return
        v = v.astype(self.dtype, copy=False)
        self._seed_extrema()
        lo, hi = float(v.min()), float(v.max())
        self._min = lo if self._min is None else min(self._min, lo)
        self._max = hi if self._max is None else max(self._max, hi)
        self._buf.append(v)
        self._buf_len += v.size
        self.n += v.size
        if self._buf_len + self._retained_above0() > self._total_capacity():
            self._consolidate()
            self._compress()

    def update(self, value: float) -> None:
        self.update_batch(np.asarray([value], dtype=self.dtype))

    def update_weighted(self, values, counts) -> None:
        """Batch update of ``values[i]`` repeated ``counts[i]`` times,
        WITHOUT materializing the expansion: each count decomposes in
        binary and the value is placed once at every set-bit level ``h``
        (KLL items at level ``h`` carry weight ``2**h``), so the
        retained weighted multiset — hence every rank/cdf/quantile/pmf
        surface — is identical to ``count`` repeated updates while
        holding O(log count) items per distinct value. This is what
        makes a map-side-combined (value, count) table a drop-in feed
        for the sketch at any scale: a billion-row group costs ~30
        retained items per distinct value, not a billion buffered rows.
        Rank answers stay EXACT as long as no compaction has occurred,
        exactly like the unweighted path."""
        v = np.asarray(values, dtype=np.float64)
        c = np.asarray(counts, dtype=np.int64)
        keep = ~np.isnan(v) & (c > 0)
        v, c = v[keep], c[keep]
        if v.size == 0:
            return
        v = v.astype(self.dtype, copy=False)
        self._seed_extrema()
        lo, hi = float(v.min()), float(v.max())
        self._min = lo if self._min is None else min(self._min, lo)
        self._max = hi if self._max is None else max(self._max, hi)
        self._consolidate()
        for h in range(int(c.max()).bit_length()):
            sel = ((c >> h) & 1).astype(bool)
            if not sel.any():
                continue
            while len(self._levels) <= h:
                self._levels.append(np.empty(0, self.dtype))
            self._levels[h] = np.concatenate([self._levels[h], v[sel]])
        self.n += int(c.sum())
        if self._retained_above0() > self._total_capacity():
            self._compress()

    # ------------------------------------------------------------------ merge

    def merge(self, other: "KllSketch") -> "KllSketch":
        if other.n == 0:
            return self
        if other.dtype != self.dtype:
            raise ValueError("cannot merge sketches of different dtypes")
        if other.FAMILY != self.FAMILY:
            raise ValueError("cannot merge KLL and REQ sketch states")
        self.k = min(self.k, other.k)
        self._seed_extrema()           # BEFORE other's items mix in
        other_levels = other._snapshot_levels()
        while len(self._levels) < len(other_levels):
            self._levels.append(np.empty(0, self.dtype))
        self._consolidate()
        for h, arr in enumerate(other_levels):
            if arr.size:
                self._levels[h] = np.concatenate([self._levels[h], arr])
        self.n += other.n
        for mine, theirs, pick in (("_min", other.min_value, min),
                                   ("_max", other.max_value, max)):
            cur = getattr(self, mine)
            if theirs is not None:
                setattr(self, mine,
                        theirs if cur is None else pick(cur, theirs))
        self._compress()
        return self

    # ------------------------------------------------------------------ query

    def is_exact(self) -> bool:
        return len(self._levels) == 1 or all(a.size == 0 for a in self._levels[1:])

    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        self._consolidate()
        vals = []
        wts = []
        for h, arr in enumerate(self._levels):
            if arr.size:
                vals.append(arr)
                wts.append(np.full(arr.size, 1 << h, dtype=np.int64))
        if not vals:
            return np.empty(0, self.dtype), np.empty(0, np.int64)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def _rank_target(self, p: float, rule: str) -> int:
        if not (0.0 <= p <= 1.0):
            raise ValueError(f"percentage must be in [0, 1], got {p}")
        if rule == "exclusive":  # DataSketches v2 rule (see module docstring)
            return int(math.floor(p * self.n)) + 1
        return max(int(math.ceil(p * self.n)), 1)

    def quantile(self, p: float, rule: str = "disc") -> float | None:
        if self.n == 0:
            return None
        # Rank 0 / rank 1 are EXACT (tracked extrema), matching
        # DataSketches getQuantile(0)/getQuantile(1) == getMinValue/
        # getMaxValue — the retained multiset may have dropped the true
        # extremes under compaction (r15 verdict finding).
        if p <= 0.0:
            self._rank_target(p, rule)  # still validate the range
            return self.min_value
        if p >= 1.0:
            self._rank_target(p, rule)
            return self.max_value
        v, w = self._weighted_items()
        cum = np.cumsum(w)
        idx = int(np.searchsorted(cum, self._rank_target(p, rule),
                                  side="left"))
        idx = min(idx, v.size - 1)
        return float(v[idx])

    def quantiles(self, ps, rule: str = "disc") -> list[float] | None:
        if self.n == 0:
            return None
        v, w = self._weighted_items()
        cum = np.cumsum(w)
        out = []
        for p in ps:
            if p <= 0.0 or p >= 1.0:
                self._rank_target(p, rule)
                out.append(self.min_value if p <= 0.0 else self.max_value)
                continue
            idx = min(int(np.searchsorted(cum, self._rank_target(p, rule),
                                          side="left")), v.size - 1)
            out.append(float(v[idx]))
        return out

    @property
    def min_value(self) -> float | None:
        if self.n == 0:
            return None
        if self._min is not None:
            return self._min
        v, _ = self._weighted_items()  # pre-v3 decoded state fallback
        return float(v[0])

    @property
    def max_value(self) -> float | None:
        if self.n == 0:
            return None
        if self._max is not None:
            return self._max
        v, _ = self._weighted_items()  # pre-v3 decoded state fallback
        return float(v[-1])

    def pmf(self, num_splits: int) -> list[float] | None:
        """Probability mass over ``num_splits`` equal-width bins spanning
        [min, max]: splitpoints at ``min + i*(max-min)/numSplits``, mass
        uses ``value < splitpoint``. Documented divergence: the
        reference's wrapper omits the min offset
        (``quantileSketches.scala:100-103``:
        ``(1 until numSplits).map(_ * splitSize)`` — bins anchored at 0,
        which its own suite's ``[0.0, 1.0]`` expectation encodes); this
        engine anchors at the min, the evident intent, and the q04
        DuckDB oracle pins it.
        """
        if self.n == 0:
            return None
        if num_splits <= 1:
            raise ValueError("numSplits must be greater than 1")
        v, w = self._weighted_items()
        # Bins span the EXACT stream range (tracked extrema), not the
        # retained range — DataSketches anchors PMF splits the same way
        # (its getMinValue/getMaxValue are exact).
        lo, hi = self.min_value, self.max_value
        width = (hi - lo) / num_splits
        splits = [lo + i * width for i in range(1, num_splits)]
        cum = np.cumsum(w)
        total = float(cum[-1])
        masses = []
        prev = 0.0
        for sp in splits:
            idx = int(np.searchsorted(v, sp, side="left"))
            below = float(cum[idx - 1]) if idx > 0 else 0.0
            masses.append((below - prev) / total)
            prev = below
        masses.append((total - prev) / total)
        return masses

    # ------------------------------------------------------------------ serde

    def serialize(self) -> bytes:
        self._consolidate()
        head = struct.pack("<IBQ", self.k, _DTYPE_CODES[self.dtype], self.n)
        # v3: exact stream extrema follow n (see serde.py version notes).
        mn = self.min_value if self.n else 0.0
        mx = self.max_value if self.n else 0.0
        head += struct.pack("<dd", mn, mx)
        nlev = len(self._levels)
        lens = struct.pack(f"<H{nlev}I", nlev, *(a.size for a in self._levels))
        body = b"".join(np.ascontiguousarray(a).tobytes() for a in self._levels)
        return pack(self.FAMILY, head + lens + body)

    @classmethod
    def deserialize(cls, data: bytes) -> "KllSketch":
        family, payload, version = unpack_versioned(data)
        if family != cls.FAMILY:
            raise ValueError(f"not a {cls.__name__} state (family={family})")
        k, dcode, n = struct.unpack_from("<IBQ", payload, 0)
        off = struct.calcsize("<IBQ")
        mn = mx = None
        if version >= 3:
            mn, mx = struct.unpack_from("<dd", payload, off)
            off += 16
        (nlev,) = struct.unpack_from("<H", payload, off)
        off += 2
        lens = struct.unpack_from(f"<{nlev}I", payload, off)
        off += 4 * nlev
        sk = cls(k=k, dtype=_CODE_DTYPES[dcode])
        sk.n = n
        itemsize = sk.dtype.itemsize
        levels = []
        for ln in lens:
            nbytes = ln * itemsize
            levels.append(np.frombuffer(payload, dtype=sk.dtype, count=ln, offset=off).copy())
            off += nbytes
        sk._levels = levels if levels else [np.empty(0, sk.dtype)]
        if n and mn is not None:
            sk._min, sk._max = float(mn), float(mx)
        return sk

    # ------------------------------------------------------------------ internals

    def _seed_extrema(self) -> None:
        """States decoded from pre-v3 wire images carry no tracked
        extrema (``_min is None`` while ``n > 0``): before combining
        with NEW data, seed from the retained items — the best
        available information — else update/merge would clobber the
        old state's range with only the new batch's (r16 review
        finding: a mixed-version pipeline whose FIRST combine partial
        is an old persisted state answered rank-0/1 from the new data
        alone)."""
        if self._min is not None or not self.n:
            return
        v, _ = self._weighted_items()
        if v.size:
            self._min, self._max = float(v[0]), float(v[-1])

    def _retained_above0(self) -> int:
        return sum(a.size for a in self._levels)

    def _cap(self, depth: int) -> int:
        """Capacity of a level ``depth`` below the top level (overridable)."""
        return _level_cap(self.k, depth)

    def _total_capacity(self) -> int:
        nlev = len(self._levels)
        return sum(self._cap(nlev - 1 - h) for h in range(nlev))

    def _consolidate(self) -> None:
        if self._buf:
            self._levels[0] = np.concatenate([self._levels[0], *self._buf])
            self._buf = []
            self._buf_len = 0

    def _snapshot_levels(self) -> list[np.ndarray]:
        self._consolidate()
        return self._levels

    def _compress(self) -> None:
        while self._retained_above0() > self._total_capacity():
            nlev = len(self._levels)
            target = -1
            for h in range(nlev):
                if self._levels[h].size >= self._cap(nlev - 1 - h):
                    target = h
                    break
            if target < 0:
                target = max(range(nlev), key=lambda h: self._levels[h].size)
            if self._levels[target].size < 2:
                break
            arr = np.sort(self._levels[target])
            kept, promoted = self._compact_level(arr)
            if promoted.size == 0:
                break
            self._levels[target] = kept
            if target + 1 == len(self._levels):
                self._levels.append(promoted.copy())
            else:
                self._levels[target + 1] = np.concatenate(
                    [self._levels[target + 1], promoted]
                )

    def _compact_level(self, arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Split a sorted over-full level into (kept, promoted). KLL compacts
        the whole level: every other item moves up. Only an even count is
        compacted — promoting ceil(m/2) of an odd m at double weight would
        inflate total weight, drifting cum-weight ranks off n (an odd
        leftover item stays at this level instead)."""
        odd = arr.size % 2
        body = arr[odd:]
        offset = self._coin()
        return arr[:odd].copy(), body[offset::2]

    def _coin(self) -> int:
        """One compaction coin flip (0 or 1) from this sketch's generator."""
        if self._rng is None:
            self._rng = np.random.default_rng(0xD5C0FFEE)
        return int(self._rng.integers(0, 2))


# NOTE: rank/cdf extend the reference surface (it exposes quantile + pmf
# only); the rank rule is the inverse of quantile(): fraction of total
# weight with value <= x.

def _rank_of(sk: "KllSketch", x: float) -> float | None:
    if sk.n == 0:
        return None
    v, w = sk._weighted_items()
    idx = int(np.searchsorted(v, x, side="right"))
    below = float(np.cumsum(w)[idx - 1]) if idx > 0 else 0.0
    return below / float(sk.n)


def _cdf_of(sk: "KllSketch", split_points) -> list[float] | None:
    if sk.n == 0:
        return None
    out = [_rank_of(sk, float(x)) for x in split_points]
    out.append(1.0)
    return out


KllSketch.rank = _rank_of
KllSketch.cdf = _cdf_of
