"""Sketch families — the one definition of each family's row path.

A family is a :class:`_Family`: ``make`` builds an empty sketch, ``prep``
cleans one Arrow batch once (vectorized), ``update`` folds a position
slice of the prepped batch into a sketch; ``serialize`` is the sketch's
own. Every consumer builds on this table:

* the two-phase operator (``operators/sketch_agg.py``) and streaming
  (``streaming/sketch_stream.py``) fold per-group slices of each batch;
* the GROUPED_AGG accumulate and direct UDFs (``functions/udfs.py``:
  ``accumulate_udf`` / ``direct_udf``) fold one whole group;
* the SQL function table (``register.SQL_FUNCTIONS``) names a family and
  its fixed parameters for every SQL accumulate and direct aggregate, and
  :func:`_resolve_family` fills in the rest from the session's conf, so
  ``install`` and ``dss.sql`` build identical states.

Adding a family is one constructor here (plus a ``_build_family`` branch and,
when it reads conf, a :func:`_resolve_family` branch). Adding an SQL function
is one ``register.SQL_FUNCTIONS`` row (an accumulate row for a new family)
and one ``funcdocs.FUNCTION_DOCS`` entry. This module is a leaf: it imports
nothing from ``functions/`` or ``operators/``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import conf
from .sketches import (
    ITEM_DOUBLE,
    ITEM_LONG,
    ITEM_STR,
    FreqItemsSketch,
    HllSketch,
    ReservoirSketch,
    ThetaSketch,
    TupleSketch,
    WeightedReservoirSketch,
    deserialize_any,
    hash_series,
    make_quantile_sketch,
)

QUANTILE_DTYPES = {"KLL": np.float32, "REQ": np.float32,
                   "MERGEABLE": np.float64}


# --------------------------------------------------------------------- keys

def _wire_longs(vals: pd.Series) -> np.ndarray:
    """Null-free series -> int64 keys for a wire-filter long path.

    Integer dtypes convert directly (lossless, incl. pandas ``Int64``).
    Object dtypes (decimal strings / python ints) parse per element —
    exact at any magnitude. Float dtypes must be integral-valued:
    a nullable bigint column crosses Arrow as float64 whenever the
    batch holds a null, so an integral float batch is an int column in
    disguise and converts losslessly (keys above 2^53 were already
    degraded by that Arrow conversion — plan-time ``item_type='long'``
    in the membership API routes around it by shipping the keys as
    cast-to-string). A genuinely fractional value under
    ``item_type='long'`` is a caller error: silently rounding would
    produce wrong keys with no signal, so it raises instead."""
    if pd.api.types.is_integer_dtype(vals):
        return vals.to_numpy(dtype=np.int64)
    if pd.api.types.is_float_dtype(vals):
        arr = vals.to_numpy(dtype=np.float64)
        if arr.size and not (np.all(np.isfinite(arr))
                             and np.all(arr == np.floor(arr))):
            bad = arr[~(np.isfinite(arr) & (arr == np.floor(arr)))][0]
            raise ValueError(
                "item_type='long' requires integral keys; got a "
                f"non-integral double value {bad!r} — cast the column "
                "to BIGINT explicitly, or use item_type='string'")
        return arr.astype(np.int64)
    return np.fromiter((int(x) for x in vals), dtype=np.int64,
                       count=len(vals))


def _wire_strings(vals: pd.Series) -> list:
    """Null-free series -> string keys for a wire-filter string path.
    Integral-valued float batches render through int64 first so a
    nullable bigint column yields '17', not '17.0' — the same logical
    value must hash identically whether or not its Arrow batch happened
    to contain a null."""
    if pd.api.types.is_float_dtype(vals):
        arr = vals.to_numpy(dtype=np.float64)
        if arr.size and np.all(np.isfinite(arr)) \
                and np.all(arr == np.floor(arr)):
            return [str(x) for x in arr.astype(np.int64)]
    elif pd.api.types.is_integer_dtype(vals):
        return [str(x) for x in vals.to_numpy(dtype=np.int64)]
    return vals.astype(str).tolist()


def _long_prep(values: pd.Series):
    """(int64 keys via :func:`_wire_longs`, non-null mask)."""
    mask = values.notna().to_numpy()
    out = np.zeros(len(values), np.int64)
    if mask.any():
        out[mask] = _wire_longs(values[mask])
    return out, mask


def _string_prep(values: pd.Series):
    """(object array of :func:`_wire_strings` keys, non-null mask)."""
    mask = values.notna().to_numpy()
    out = np.empty(len(values), object)
    if mask.any():
        out[mask] = np.asarray(_wire_strings(values[mask]), dtype=object)
    return out, mask


def _rows(ctx, idx):
    """The prepped arrays at the positions ``idx`` (None = the whole
    batch) that the trailing validity mask keeps, in position order."""
    *arrays, mask = ctx
    sel = mask if idx is None else idx[mask[idx]]
    return [a[sel] for a in arrays]


# --------------------------------------------------------------------- groups

def _hashable(v):
    if isinstance(v, dict):
        return tuple(_hashable(x) for x in v.values())
    if isinstance(v, (list, np.ndarray)):
        return tuple(_hashable(x) for x in v)
    return v


def _iter_groups(pdf: pd.DataFrame, keys: list[str]):
    """Yield (hashable_key, original_key_tuple, positions) per group.
    Fast path: C-computed groupby().indices. Fallback for unhashable key
    values (a window/struct key arrives in pandas as a dict — the reference
    supports groupBy(window(...)) so we must too): a per-row python loop
    keyed on a hashable rendering, emitting the original values."""
    try:
        # .indices builds the full dict eagerly; materialize before any
        # yield so a TypeError can never leave groups half-processed
        items = list(pdf.groupby(keys, dropna=False, sort=False)
                     .indices.items())
    except TypeError:
        cols = [pdf[k].tolist() for k in keys]
        groups: dict = {}
        originals: dict = {}
        for pos, row in enumerate(zip(*cols)):
            hk = tuple(_hashable(v) for v in row)
            groups.setdefault(hk, []).append(pos)
            if hk not in originals:
                originals[hk] = row
        for hk, poss in groups.items():
            yield hk, originals[hk], np.asarray(poss)
        return
    for kv, idx in items:
        kv = kv if isinstance(kv, tuple) else (kv,)
        yield kv, kv, idx


# --------------------------------------------------------------------- families

class _Family:
    """Per-family kernel: ``prep`` runs ONCE per Arrow batch (vectorized
    cleaning/hashing of the whole column) and returns a tuple of
    position-aligned arrays whose last one is the validity mask;
    ``update`` folds a numpy position slice of the prepped batch into one
    sketch. This split is what makes many-tiny-groups workloads fast:
    per-group work is a numpy slice + one sketch call, with no per-group
    pandas Series construction. ``ncols`` is 2 for (value, weight) and
    (key, value) families, whose ``prep`` takes the two-column frame."""

    __slots__ = ("make", "prep", "update", "ncols")

    def __init__(self, make, prep, update, ncols: int = 1):
        self.make = make
        self.prep = prep
        self.update = update
        self.ncols = ncols

    def update_series(self, sk, values) -> None:
        ctx = self.prep(values)
        self.update(sk, ctx, None)

    def sketch_of(self, values):
        """One sketch over a whole group, or None when no row survives
        ``prep`` — the empty-aggregation-is-null rule
        (``quantileSketches.scala:286-287``) every accumulate and direct
        aggregate shares."""
        ctx = self.prep(values)
        if not ctx[-1].any():
            return None
        sk = self.make()
        self.update(sk, ctx, None)
        return sk


def _quantile_family(impl: str | None, k: int | None) -> _Family:
    impl = (impl or conf.quantile_impl()).upper()
    k = k or conf.quantile_k(impl)
    dtype = QUANTILE_DTYPES[impl]

    def prep(values: pd.Series):
        # keep NaNs in place (update_batch drops them) so positions align
        arr = pd.to_numeric(values, errors="coerce").to_numpy(np.float64)
        return arr, ~np.isnan(arr)

    def update(sk, ctx, idx):
        arr = ctx[0]
        sk.update_batch(arr if idx is None else arr[idx])

    return _Family(lambda: make_quantile_sketch(impl, k, dtype), prep, update)


def _freq_family(item_type: str, max_map_size: int | None) -> _Family:
    m = max_map_size or conf.freq_max_map_size()
    # string items render null-independently: a nullable bigint batch
    # crosses Arrow as float64, and str() would emit '1.0'-style items in
    # exactly the batches holding a null
    prep = _long_prep if item_type == ITEM_LONG else _string_prep

    def update(sk, ctx, idx):
        items, = _rows(ctx, idx)
        if items.size:
            sk.update_batch(items.tolist())

    return _Family(lambda: FreqItemsSketch(max_map_size=m,
                                           item_type=item_type), prep, update)


def _hashed_prep(values: pd.Series):
    """Whole-batch vectorized hashing with NaN-position mask (theta/hll)."""
    mask = values.notna().to_numpy()
    hashes = np.zeros(len(values), dtype=np.uint64)
    if mask.any():
        hashes[mask] = hash_series(values[mask])
    return hashes, mask


def _hashed_update(sk, ctx, idx):
    h, = _rows(ctx, idx)
    if h.size:
        sk.update_hashes(h)


def _theta_family(k: int | None) -> _Family:
    k = k or conf.distinct_theta_k()
    return _Family(lambda: ThetaSketch(k=k), _hashed_prep, _hashed_update)


def _hll_family(lgk: int | None) -> _Family:
    lgk = lgk or conf.distinct_hll_lgk()
    return _Family(lambda: HllSketch(lgk=lgk), _hashed_prep, _hashed_update)


def _bloomwire_family(expected: int | None, fpp: float | None,
                      seed: int, item_type: str) -> _Family:
    """DataSketches BloomFilter WIRE family (compat/bloomwire.py):
    partials are genuine family-21 images; the declared ``item_type``
    picks the hash path (longs as 8-byte LE / strings as UTF-8 — the
    Java update() overload rule). Rendering goes through the shared
    wire helpers so state content is independent of which Arrow batch
    a null lands in (a nullable bigint batch crosses as float64)."""
    from .compat.bloomwire import DsBloomFilter
    expected = expected or conf.membership_expected()
    fpp = fpp if fpp is not None else conf.membership_fpp()

    if item_type == ITEM_LONG:
        prep = _long_prep

        def update(sk, ctx, idx):
            items, = _rows(ctx, idx)
            if items.size:
                sk.update_longs(items)
    else:
        prep = _string_prep

        def update(sk, ctx, idx):
            items, = _rows(ctx, idx)
            if items.size:
                sk.update_strings(items.tolist())

    return _Family(lambda: DsBloomFilter.design(expected, fpp, seed),
                   prep, update)


def _bloom_family(expected: int | None, fpp: float | None) -> _Family:
    """Bloom membership family — same hashed kernel as theta/hll (the
    shared 64-bit hash space); geometry fixed by the design point so
    every partial in one aggregation merges bit-exactly."""
    from .sketches import BloomFilter
    expected = expected or conf.membership_expected()
    fpp = fpp if fpp is not None else conf.membership_fpp()
    return _Family(lambda: BloomFilter.design(expected, fpp),
                   _hashed_prep, _hashed_update)


def _murmur128_prep(item_type: str):
    """prep -> (h1, h2, mask): MurmurHash3 x64 128 (seed 9001) of each
    key, the hash both DataSketches wire families (CPC, Theta) consume.
    Longs hash vectorized; strings once per Arrow batch, with empty
    strings skipped like Java's ``update(String)``."""
    from .sketches.murmur3 import hash128_bytes, hash128_longs

    def prep(values: pd.Series):
        if item_type == ITEM_LONG:
            keys, mask = _long_prep(values)
        else:
            keys, mask = _string_prep(values)
            mask &= keys != ""
        h1 = np.zeros(len(values), np.uint64)
        h2 = np.zeros(len(values), np.uint64)
        if mask.any():
            h1[mask], h2[mask] = (
                hash128_longs(keys[mask]) if item_type == ITEM_LONG
                else hash128_bytes([s.encode("utf-8") for s in keys[mask]]))
        return h1, h2, mask

    return prep


def _cpcwire_family(lgk: int | None, item_type: str) -> _Family:
    """Genuine-CPC family: partials are CPC WIRE bytes (CpcAccumulator
    serializes to the Apache DataSketches format), merged via the
    family-16 byte-sniff like any foreign CPC state."""
    from .sketches.cpc_state import CpcAccumulator
    lgk = lgk or conf.distinct_cpc_wire_lgk()

    def update(sk, ctx, idx):
        h1, h2 = _rows(ctx, idx)
        if h1.size:
            sk.update_hashes128(h1, h2)

    return _Family(lambda: CpcAccumulator(lgk), _murmur128_prep(item_type),
                   update)


def _thetawire_family(k: int | None, item_type: str) -> _Family:
    """Genuine DataSketches compact-Theta family: partials are family-3
    wire bytes, merged via the byte-sniff (``compat/theta.py``)."""
    from .compat.theta import ThetaWireAccumulator
    k = k or conf.distinct_theta_k()

    def update(sk, ctx, idx):
        h1, _ = _rows(ctx, idx)
        if h1.size:
            sk._fold(h1)

    return _Family(lambda: ThetaWireAccumulator(k),
                   _murmur128_prep(item_type), update)


def _sample_prep(item_type: str):
    """prep for sampled items: strings via :func:`_wire_strings`, longs
    and doubles through numeric coercion."""
    if item_type == ITEM_STR:
        return _string_prep
    if item_type == ITEM_LONG:
        def prep(values: pd.Series):
            arr = pd.to_numeric(values, errors="coerce")
            return arr.fillna(0).to_numpy(np.int64), arr.notna().to_numpy()
        return prep

    def prep(values: pd.Series):
        arr = pd.to_numeric(values, errors="coerce").to_numpy(np.float64)
        return arr, ~np.isnan(arr)
    return prep


def _reservoir_family(k: int | None, item_type: str) -> _Family:
    k = k or conf.sample_reservoir_k()

    def update(sk, ctx, idx):
        items, = _rows(ctx, idx)
        if items.size:
            sk.update_batch(items)

    return _Family(lambda: ReservoirSketch(k=k, item_type=item_type),
                   _sample_prep(item_type), update)


def _wreservoir_family(k: int | None, item_type: str) -> _Family:
    """Two-column family: measure col is (value_col, weight_col); prep
    receives the two-column pandas sub-frame. Rows with a null value or
    a zero/negative/non-finite weight are not items (they can never be
    drawn), so an all-zero-weight group accumulates to null."""
    k = k or conf.sample_reservoir_k()
    item_prep = _sample_prep(item_type)

    def prep(pdf: pd.DataFrame):
        vals, mask = item_prep(pdf.iloc[:, 0])
        w = pd.to_numeric(pdf.iloc[:, 1], errors="coerce").to_numpy(np.float64)
        return vals, w, mask & np.isfinite(w) & (w > 0)

    def update(sk, ctx, idx):
        vals, w = _rows(ctx, idx)
        if vals.size:
            sk.update_batch(vals, w)

    return _Family(lambda: WeightedReservoirSketch(k=k, item_type=item_type),
                   prep, update, ncols=2)


def _aodwire_family(k: int | None, item_type: str) -> _Family:
    """Genuine DataSketches Tuple/ArrayOfDoubles family (two-column:
    measure col is (key_col, value_col)): partials are family-9 wire
    bytes with [1, x] summaries -> per-key (count, sum), readable by
    datasketches-java; merged via the byte-sniff union
    (``compat/aod.py``)."""
    from .compat.aod import AodWireAccumulator
    k = k or conf.tuple_k()

    def prep(pdf: pd.DataFrame):
        keys = pdf.iloc[:, 0]
        vals = pd.to_numeric(pdf.iloc[:, 1], errors="coerce") \
            .fillna(0.0).to_numpy(np.float64)
        return keys.to_numpy(), vals, keys.notna().to_numpy()

    def update(sk, ctx, idx):
        kv, vv = _rows(ctx, idx)
        if not kv.size:
            return
        if item_type == ITEM_LONG:
            sk.update_longs(_wire_longs(pd.Series(kv)), vv)
        else:
            sk.update_strings(_wire_strings(pd.Series(kv)), vv)

    return _Family(lambda: AodWireAccumulator(k), prep, update, ncols=2)


def _tuple_family(k: int | None) -> _Family:
    """Two-column family: measure col is (key_col, value_col). Null-key
    rows drop; null values count their row with 0.0 (count(*)/sum(value)
    SQL semantics). Hashing is the theta dispatch, whole-batch
    vectorized."""
    k = k or conf.tuple_k()

    def prep(pdf: pd.DataFrame):
        hashes, mask = _hashed_prep(pdf.iloc[:, 0])
        vals = pd.to_numeric(pdf.iloc[:, 1], errors="coerce") \
            .fillna(0.0).to_numpy(np.float64)
        return hashes, vals, mask

    def update(sk, ctx, idx):
        h, v = _rows(ctx, idx)
        if h.size:
            sk.update_batch(h, v)

    return _Family(lambda: TupleSketch(k=k), prep, update, ncols=2)


class _StateMerger:
    """Folds pre-serialized sketch states — the ``*_combine`` verb.
    Family-agnostic (byte-sniff dispatch), so one kernel serves every
    state the engine or a foreign DataSketches writer produces. It is the
    one merge loop: the ``*_combine`` GROUPED_AGG UDF
    (``udfs.combine_udf``) and the merge fold (``udfs.combine_fold``) run
    it, and every operator, ``SketchRollup`` and dss.sql's ``*_combine``
    reach it through that one fold."""

    __slots__ = ("sk",)

    def __init__(self):
        self.sk = None

    def merge_blobs(self, blobs) -> "_StateMerger":
        """Fold every non-null blob in; raises on corrupt input."""
        for blob in blobs:
            if blob is not None:
                sk = deserialize_any(bytes(blob))
                self.sk = sk if self.sk is None else self.sk.merge(sk)
        return self

    def serialize(self):
        return None if self.sk is None else self.sk.serialize()


def _family(name: str, **params) -> _Family:
    """The family ``name`` built from ``params``. A parameter its branch
    does not read raises ValueError, like an unknown name: a silently
    ignored ``lgk`` on theta or a misrouted ``max_groups`` would
    otherwise build a default sketch."""
    read = set()

    def get(key, default=None):
        read.add(key)
        return params.get(key, default)

    fam = _build_family(name, get)
    unknown = sorted(set(params) - read)
    if unknown:
        raise ValueError(f"sketch family {name!r} takes no parameter "
                         f"{', '.join(map(repr, unknown))}")
    return fam


def _build_family(name: str, get) -> _Family:
    if name in ("quantile", "kll", "req", "mergeable"):
        impl = None if name == "quantile" else name.upper()
        return _quantile_family(get("impl", impl), get("k"))
    if name in ("freq", "freqitems"):
        return _freq_family(get("item_type", ITEM_STR), get("max_map_size"))
    if name in ("theta", "cpc", "distinct"):
        return _theta_family(get("k"))
    if name == "hll":
        return _hll_family(get("lgk"))
    if name == "cpcwire":
        return _cpcwire_family(get("lgk"), get("item_type", ITEM_STR))
    if name == "thetawire":
        return _thetawire_family(get("k"), get("item_type", ITEM_STR))
    if name in ("reservoir", "sample"):
        return _reservoir_family(get("k"), get("item_type", ITEM_DOUBLE))
    if name in ("wreservoir", "weighted_sample"):
        return _wreservoir_family(get("k"), get("item_type", ITEM_DOUBLE))
    if name == "tuple":
        return _tuple_family(get("k"))
    if name in ("aodwire", "tuplewire"):
        return _aodwire_family(get("k"), get("item_type", ITEM_STR))
    if name in ("bloom", "membership"):
        return _bloom_family(get("expected_items"), get("fpp"))
    if name == "bloomwire":
        return _bloomwire_family(get("expected_items"), get("fpp"),
                                 get("seed", 0), get("item_type", ITEM_STR))
    raise ValueError(f"unknown sketch family {name!r}")


# ------------------------------------------------------- plan-time parameters

def _resolve_family(family: str | None, params: dict, spark=None):
    """(family, params) with every conf-dependent parameter read from
    ``spark``'s conf at plan time: the form the SQL function table
    (``register.SQL_FUNCTIONS``) declares a family in. Family None is the
    distinct count of ``params["impl"]`` (CPC, THETA or HLL), or of the
    conf's ``distinctCnt.sketchImpl`` when no impl is given."""
    if family is None:
        impl = params.get("impl") or conf.distinct_impl(spark)
        if impl == "THETA":
            family, params = "theta", {}
        else:  # HLL, and the CPC name served by the engine HLL
            family = "hll"
            params = {"lgk": conf.distinct_hll_lgk(spark) if impl == "HLL"
                      else conf.distinct_cpc_lgk(spark)}
    if family == "quantile":
        impl = params.get("impl") or conf.quantile_impl(spark)
        params = {"impl": impl, "k": conf.quantile_k(impl, spark)}
    elif family == "freq":
        params = dict(params, max_map_size=conf.freq_max_map_size(spark))
    elif family in ("theta", "thetawire"):
        params = dict(params, k=conf.distinct_theta_k(spark))
    elif family == "cpcwire":
        params = dict(params, lgk=conf.distinct_cpc_wire_lgk(spark))
    elif family in ("reservoir", "wreservoir"):
        params = dict(params, k=conf.sample_reservoir_k(spark))
    elif family in ("tuple", "aodwire"):
        params = dict(params, k=conf.tuple_k(spark))
    elif family in ("bloom", "bloomwire"):
        params = dict(params, expected_items=conf.membership_expected(spark),
                      fpp=conf.membership_fpp(spark))
    return family, params
