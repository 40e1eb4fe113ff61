"""Pandas-UDF builders backing every sketch function.

Execution pattern (SURVEY.md §4): the reference's ``TypedImperativeAggregate``
update/merge/serialize contract (``quantileSketches.scala:234-273``) maps to

* *accumulate / direct agg*  -> ``GROUPED_AGG`` pandas UDF (Arrow-batched),
  built by :func:`accumulate_udf` / :func:`direct_udf` from the family
  table (``families.py``) — the same row path the two-phase operator runs;
* *combine*                  -> ``GROUPED_AGG`` pandas UDF over binary states
  (:func:`combine_udf`, the Column/SQL ``*_combine``), or the key-sorted
  ``mapInPandas`` fold :func:`combine_fold` the operators plan;
* *estimate / pmf*           -> scalar pandas UDF over binary states, built
  by :func:`state_udf`; after an operator merge, the same function runs
  inside the fold on the merged sketch (:class:`Finisher`), as the
  reference's ``eval`` estimates from the final buffer.

For true map-side combine at scale, see
``datasketches_spark_spark.operators.sketch_agg`` which pre-sketches per
partition with ``mapInPandas`` before the state fold — the two-phase physics
of the reference's partial/final aggregation.

Error semantics preserved from the reference:

* input nulls skipped (``quantileSketches.scala:248-249``);
* empty aggregation -> null (``quantileSketches.scala:286-287``);
* ``*_estimate`` swallows corrupt state bytes -> null with a warning
  (``quantileSketches.scala:614-624``);
* ``*_combine`` raises on corrupt state bytes (``quantileSketches.scala:542-551``).
"""

from __future__ import annotations

import logging
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..families import _iter_groups, _StateMerger, _wire_longs, _wire_strings
from ..sketches import (
    ITEM_LONG,
    ITEM_STR,
    CpcUnionSketch,
    FreqItemsSketch,
    HllSketch,
    KllSketch,
    ThetaSketch,
    TupleSketch,
    deserialize_any,
    hash_series,
    make_quantile_sketch,
)

log = logging.getLogger(__name__)


# --------------------------------------------------------------------- utils

def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _is_null(v) -> bool:
    if v is None:
        return True
    try:
        return bool(pd.isna(v))
    except (TypeError, ValueError):  # arrays: pd.isna is elementwise
        return False


def validate_percentage(percentage):
    """Analysis-time validation, matching the reference's AnalysisException
    rules (``quantileSketches.scala:176-194``). Returns (list[float], is_multi).
    """
    if isinstance(percentage, (list, tuple, np.ndarray)):
        if any(p is None for p in percentage):
            # reference: "Percentage value must not be null"
            # (quantileSketches.scala:176-184)
            raise ValueError("percentage value must not be null")
        ps = [float(p) for p in percentage]
        multi = True
    elif isinstance(percentage, (int, float)) and not isinstance(percentage, bool):
        ps = [float(percentage)]
        multi = False
    else:
        raise ValueError(
            f"percentage must be a numeric literal or a list of numeric "
            f"literals, but got {percentage!r}")
    for p in ps:
        if not (0.0 <= p <= 1.0):
            raise ValueError(
                f"percentage(s) must be between 0.0 and 1.0, but got {p}")
    return ps, multi


def validate_num_splits(num_splits):
    if not isinstance(num_splits, int) or isinstance(num_splits, bool) or num_splits <= 1:
        raise ValueError(
            f"the number of splits must be greater than 1, but got {num_splits}")
    return num_splits


def _named(name: str, validator, arg):
    """Run ``validator(arg)`` with the failing SQL function named in the
    error — the closest a Python UDF can get to the reference's
    AnalysisException timing (``quantileSketches.scala:176-194``; the
    DataFrame API and dss.sql() both validate before any job starts)."""
    try:
        return validator(arg)
    except ValueError as e:
        raise ValueError(f"{name}: {e}") from None


# --------------------------------------------------------------------- builders

def _group_sketch(fam, cols):
    """The family's sketch over one group's input columns (the first
    ``fam.ncols`` of ``cols``), or None for an empty aggregation."""
    if fam.ncols == 1:
        return fam.sketch_of(cols[0])
    return fam.sketch_of(pd.concat(cols[:fam.ncols], axis=1,
                                   keys=range(fam.ncols)))


def accumulate_udf(fam):
    """GROUPED_AGG: raw values (one column, or two for a two-column
    family) -> the family's serialized state; null when the sketch
    received no items."""

    @pandas_udf(BinaryType())
    def acc(*cols: pd.Series) -> bytes:
        sk = _group_sketch(fam, cols)
        return None if sk is None else sk.serialize()

    return acc


def direct_udf(fam, return_type, finish):
    """GROUPED_AGG: raw values -> ``finish(sketch, *extra)`` directly, where
    ``extra`` are the argument columns after the family's input columns;
    null when the sketch received no items."""

    @pandas_udf(return_type)
    def direct(*cols: pd.Series) -> object:
        sk = _group_sketch(fam, cols)
        return None if sk is None else finish(sk, *cols[fam.ncols:])

    return direct


class _NullOnError:
    """The estimate error rule (reference parity,
    ``quantileSketches.scala:614-624``): ``fn`` over states that must all
    be one of ``kinds``, where a decode error, a state of another kind or
    an error in ``fn`` gives null. A state is a blob, decoded with
    ``deserialize_any``, or an already merged sketch. Failures are
    counted and logged once per batch by :meth:`flush`, naming ``name``.
    :func:`state_udf` and the merge fold's finishers
    (:func:`combine_fold`) share it."""

    __slots__ = ("name", "kinds", "fn", "failed", "first")

    def __init__(self, name: str, kinds, fn):
        self.name, self.kinds, self.fn = name, kinds, fn
        self.failed, self.first = 0, None

    def __call__(self, states, extra=()):
        try:
            sks = [deserialize_any(bytes(s))
                   if isinstance(s, (bytes, bytearray, memoryview)) else s
                   for s in states]
            for sk in sks:
                if not isinstance(sk, self.kinds):
                    raise TypeError(f"unexpected {type(sk).__name__} state")
            return self.fn(*sks, *extra)
        except Exception as e:
            self.failed += 1
            self.first = e if self.first is None else self.first
            return None

    def flush(self) -> None:
        if self.failed:
            log.warning("%s: %d corrupt state(s) -> null; first: %s",
                        self.name, self.failed, self.first)
        self.failed, self.first = 0, None


def _struct_nulls(out: list, return_type) -> list:
    """``out`` with each null of a struct-typed result as a struct of
    nulls, the row a struct-returning pandas UDF gives for it."""
    if not isinstance(return_type, StructType):
        return out
    null = (None,) * len(return_type.fields)
    return [null if r is None else r for r in out]


class StateSpec(NamedTuple):
    """The definition of a :func:`state_udf`, which the UDF carries as
    ``spec``: :class:`Finisher` runs it inside the merge fold, and the
    SQL surfaces (``register``, ``dss.sql``) validate literal arguments
    with its ``args``."""
    name: str
    return_type: DataType
    kinds: tuple
    fn: object
    args: object
    states: int


def state_udf(name: str, return_type, kinds, fn, states: int = 1, args=None):
    """Scalar: ``states`` binary state columns, then argument columns ->
    ``fn(*sketches, *row_args)`` per row.

    A null state gives null. Each state decodes with ``deserialize_any``
    and must be one of ``kinds``. ``args(*row_args)``, when given, runs
    first and outside the error guard: it validates the row's arguments
    (invalid ones raise, reference AnalysisException semantics), fills
    in the defaults of optional trailing ones, and returns the values
    passed on to ``fn``, or None for a null row. Errors follow
    :class:`_NullOnError`. The returned UDF carries its
    :class:`StateSpec` as ``spec``."""
    guard = _NullOnError(name, kinds, fn)

    @pandas_udf(return_type)
    def est(*cols: pd.Series) -> pd.Series:
        out = []
        for row in zip(*cols):
            blobs, extra = row[:states], row[states:]
            if any(b is None for b in blobs):
                out.append(None)
                continue
            if args is not None:
                extra = args(*extra)
                if extra is None:
                    out.append(None)
                    continue
            out.append(guard(blobs, extra))
        guard.flush()
        out = _struct_nulls(out, return_type)
        if isinstance(return_type, StructType):
            return pd.DataFrame(out, columns=return_type.names)
        return pd.Series(out, dtype=object)

    est.spec = StateSpec(name, return_type, kinds, fn, args, states)
    return est


def _lit(v) -> Column:
    return F.array(*map(F.lit, v)) if isinstance(v, (list, tuple)) \
        else F.lit(v)


class Finisher:
    """An estimate of one merged state, in both of the places it can run.

    Called on a state column, ``f(col)`` is the Column the ``*_estimate``
    function returns: the :func:`state_udf` that ``udf()`` builds,
    applied to the state and to ``lits`` (the literal arguments after the
    state, already validated) as literal columns, wrapped by
    ``wrap(col, estimate)`` when given. :meth:`bind` gives the same
    estimate as a Python function of a merged sketch, which the merge
    fold (:func:`combine_fold`) runs instead of serializing the state for
    a second Python pass to decode again. ``udf`` runs when the Column or
    the fold is built, so the conf it reads is read then."""

    __slots__ = ("udf", "lits", "wrap")

    def __init__(self, udf, *lits, wrap=None):
        self.udf = udf
        self.lits = lits
        self.wrap = wrap

    def __call__(self, col) -> Column:
        c = _col(col)
        out = self.udf()(c, *map(_lit, self.lits))
        return out if self.wrap is None else self.wrap(c, out)

    def bind(self) -> "_Bound":
        """This estimate as a finish entry of :func:`combine_fold`: the
        UDF's ``fn`` under its error guard, its arguments bound now."""
        spec = self.udf().spec
        bound = self.lits if spec.args is None else spec.args(*self.lits)
        return _Bound(_NullOnError(spec.name, spec.kinds, spec.fn), bound,
                      spec.return_type)


class _Bound(NamedTuple):
    """A :class:`Finisher` bound for the fold. ``args`` is None when the
    arguments make every estimate null, as a null argument row does."""
    guard: _NullOnError
    args: tuple | None
    return_type: DataType


# --------------------------------------------------------------------- quantile

_QUANTILE = (KllSketch,)  # ReqSketch subclasses KllSketch


def quantile_acc_weighted_udf(impl: str, k: int, dtype):
    """GROUPED_AGG: (value, count) pairs -> serialized quantile state.

    The weight-expanded twin of the quantile accumulate: feeding a
    map-side-combined (value, count) table yields the same
    rank/cdf/quantile surfaces as accumulating the raw rows (sketch
    updates are update-order-independent in what the engine surfaces,
    and ``KllSketch.update_weighted`` places each value at its count's
    set-bit levels so nothing is materialized). This lets an
    exact-regime accumulate shuffle ~distinct-value rows instead of
    every raw row (guide §2.3 "aggregate before you shuffle")."""

    @pandas_udf(BinaryType())
    def acc(v: pd.Series, w: pd.Series) -> bytes:
        vals = pd.to_numeric(v, errors="coerce").to_numpy(np.float64)
        wts = pd.to_numeric(w, errors="coerce").fillna(0).to_numpy(np.int64)
        sk = make_quantile_sketch(impl, k, dtype)
        sk.update_weighted(vals, wts)
        if sk.n == 0:
            return None
        return sk.serialize()

    return acc


def percentages_arg(name: str, p, multi: bool) -> list[float]:
    """The validated percentage list of one literal argument of the SQL
    function ``name`` (``name_array`` takes the array form)."""
    if _is_null(p):
        raise ValueError(f"{name}: percentage value must not be null")
    is_array = isinstance(p, (list, tuple, np.ndarray))
    if multi:
        if not is_array:
            raise ValueError(f"{name}: the percentage is a scalar — use "
                             f"{name.removesuffix('_array')}")
        return _named(name, validate_percentage, list(p))[0]
    if is_array:
        raise ValueError(
            f"{name}: the percentage is an array — use {name}_array "
            "(a Python UDF registration cannot overload the scalar and "
            "array return types under one name)")
    return _named(name, validate_percentage, float(p))[0]


def quantile_est_udf(rule: str, name: str = "approx_percentile_estimate"):
    """Scalar: (state, percentage) -> double, or, for a ``name`` ending in
    ``_array``, (state, array of percentages) -> array<double>. Always
    double-typed, matching the reference
    (``quantileSketches.scala:601-605``). ``name`` is the SQL function
    that errors name."""
    multi = name.endswith("_array")
    rt = ArrayType(DoubleType(), containsNull=False) if multi else DoubleType()

    def est(sk, ps):
        return sk.quantiles(ps, rule=rule) if multi \
            else sk.quantile(ps[0], rule=rule)

    return state_udf(name, rt, _QUANTILE, est,
                     args=lambda p: (percentages_arg(name, p, multi),))


def rank_est_udf():
    """Scalar: (quantile state, value) -> rank of ``value`` in [0,1] (the
    inverse of quantile(); extension beyond the reference surface)."""
    return state_udf("approx_rank_estimate", DoubleType(), _QUANTILE,
                     lambda sk, x: sk.rank(x),
                     args=lambda x: None if _is_null(x) else (float(x),))


def cdf_est_udf():
    """Scalar: (quantile state, split points) -> cumulative mass at each
    split point (+ trailing 1.0), complementing approx_pmf_estimate."""
    return state_udf(
        "approx_cdf_estimate", ArrayType(DoubleType(), containsNull=False),
        _QUANTILE, lambda sk, sps: sk.cdf(sps),
        args=lambda sps: None if sps is None
        else ([float(x) for x in sps],))


def pmf_est_udf():
    """Scalar: (quantile state, num_splits) -> probability mass over
    ``num_splits`` equal-width bins of [min, max]."""
    def split_args(n=9):
        return _named("approx_pmf_estimate", validate_num_splits,
                      None if _is_null(n) else int(n)),

    return state_udf(
        "approx_pmf_estimate", ArrayType(DoubleType(), containsNull=False),
        _QUANTILE, lambda sk, n: sk.pmf(n), args=split_args)


def quantile_bounds_udf(rule: str):
    """Scalar: (state, p, eps) -> [lower, upper] quantile confidence
    bounds — the values at ranks ``p - eps`` and ``p + eps`` (clamped to
    [0, 1]). With ``eps`` NULL, the sketch's normalized rank-error bound
    is used: 0 in the exact regime (bounds collapse to the point
    estimate), else the published KLL envelope ``2.296 / k^0.9``
    (Apache DataSketches' KLL getNormalizedRankError constant; the
    DataSketches quantile API exposes the same capability as
    getQuantileLowerBound/getQuantileUpperBound). The true quantile lies
    inside the interval with ~99% probability per the KLL PAC bound."""

    def bounds(sk, p, e):
        if _is_null(e):
            e = 0.0 if sk.is_exact() else 2.296 / (sk.k ** 0.9)
        lo = sk.quantile(max(0.0, p - float(e)), rule=rule)
        hi = sk.quantile(min(1.0, p + float(e)), rule=rule)
        return None if lo is None else [lo, hi]

    return state_udf(
        "approx_percentile_bounds", ArrayType(DoubleType(), containsNull=False),
        _QUANTILE, bounds,
        args=lambda p, e=None: None if _is_null(p) else (_named(
            "approx_percentile_bounds", validate_percentage,
            float(p))[0][0], e))


def ks_distance_udf():
    """Scalar: two quantile (KLL-family) states -> two-sample
    Kolmogorov-Smirnov distance, ``sup_x |F_A(x) - F_B(x)|`` over the
    union of retained items (the sup of two step functions is attained
    at a jump point, so evaluating at every retained value is exact for
    the sketched distributions).

    Exact-regime states retain every raw value at weight 1, so the
    result IS the exact two-sample KS statistic; in estimation mode it
    is the KS distance between the sketch-approximated ECDFs, with error
    bounded by the two sketches' rank-error envelopes. The DataSketches
    library ships the same capability for its quantile sketches
    (kolmogorov_smirnov_test); this engine computes the distance from
    any two persisted states — the drift-detection primitive for
    comparing two time windows without raw rescans."""

    def ks(sa, sb):
        if sa.n == 0 or sb.n == 0:
            return None
        va, wa = sa._weighted_items()
        vb, wb = sb._weighted_items()
        xs = np.union1d(va, vb)

        def ecdf(v, w):
            cum = np.cumsum(w)
            idx = np.searchsorted(v, xs, side="right")
            return np.where(idx > 0, cum[np.maximum(idx - 1, 0)],
                            0) / float(cum[-1])

        return float(np.max(np.abs(ecdf(va, wa) - ecdf(vb, wb))))

    return state_udf("approx_ks_distance", DoubleType(), _QUANTILE, ks,
                     states=2)


# --------------------------------------------------------------------- combine

def combine_udf():
    """GROUPED_AGG: binary states (any family) -> merged binary state.

    Family-agnostic: dispatches on the state header, so one combine kernel
    serves quantiles, freq-items and theta (the reference has one class per
    family; semantics identical). Raises on corrupt input like the
    reference's combine (``quantileSketches.scala:542-551``).
    """

    @pandas_udf(BinaryType())
    def combine(states: pd.Series) -> bytes:
        return _StateMerger().merge_blobs(states).serialize()

    return combine


def _same_key(a, b) -> bool:
    """Null-safe equality of two :func:`_iter_groups` keys: Arrow->pandas
    renders a null as None, NaN or NaT depending on the column type."""
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_same_key, a, b))
    if _is_null(a) or _is_null(b):
        return _is_null(a) and _is_null(b)
    return bool(a == b)


def combine_fold(keys: list[str], state_cols: list[str], finish=None):
    """mapInPandas: ``(keys..., states...)`` batches sorted by ``keys`` ->
    one row per group, each state column merged like :func:`combine_udf`
    (a corrupt blob raises).

    ``finish`` has one entry per state column. None emits the merged
    state, null for an all-null column. A :meth:`Finisher.bind` entry
    emits the estimate of the merged sketch instead: null for an
    all-null column, and under the guard's error rule, whose failures
    are logged once per emitted batch.

    Every row of a group arrives in one run (the caller hash-partitions
    and sorts by ``keys``), so only the last run of a batch can go on in
    the next batch: memory is one batch plus one open group. With no keys
    the partition is one group."""
    finish = finish or [None] * len(state_cols)

    def emit(mergers, f):
        if f is None:
            return [m.serialize() for m in mergers]
        out = [None if m.sk is None or f.args is None
               else f.guard((m.sk,), f.args) for m in mergers]
        f.guard.flush()
        return pd.Series(_struct_nulls(out, f.return_type), dtype=object)

    def frame(groups):
        out = {k: [kv[i] for _, kv, _ in groups] for i, k in enumerate(keys)}
        for j, c in enumerate(state_cols):
            out[c] = emit([ms[j] for _, _, ms in groups], finish[j])
        return pd.DataFrame(out, columns=[*keys, *state_cols])

    def combine(batches):
        group = None  # (hashable key, key values, one merger per column)
        for pdf in batches:
            if pdf.empty:
                continue
            runs = (sorted(_iter_groups(pdf, keys), key=lambda r: r[2][0])
                    if keys else [((), (), slice(None))])
            blobs = [pdf[c].to_numpy(object) for c in state_cols]
            done = []
            for hk, kv, idx in runs:
                if group is None or not _same_key(hk, group[0]):
                    if group is not None:
                        done.append(group)
                    group = hk, kv, [_StateMerger() for _ in state_cols]
                for m, col in zip(group[2], blobs):
                    m.merge_blobs(col[idx])
            if done:
                yield frame(done)
        if group is not None:
            yield frame([group])

    return combine


# --------------------------------------------------------------------- freq items

def freq_result_type(item_type: str) -> ArrayType:
    item_dt = StringType() if item_type == ITEM_STR else LongType()
    return ArrayType(StructType([
        StructField("item", item_dt),
        StructField("estimated", LongType()),
    ]))


def frequent_items(sk) -> list:
    """The result rows of a frequent-items sketch, estimate-descending."""
    return [{"item": i, "estimated": int(c)} for i, c in sk.frequent_items()]


def freq_est_udf(item_type: str):
    suffix = "_long" if item_type == ITEM_LONG else ""
    return state_udf(f"approx_freqitems_estimate{suffix}",
                     freq_result_type(item_type),
                     FreqItemsSketch, frequent_items)


def freq_maxerr_udf():
    """Scalar: frequent-items state -> the sketch's maximum estimation
    error (Misra-Gries ``max_err``): every reported count is within
    [true, true + max_err]. Zero in the exact regime — the documented
    way to ASSERT exactness of a freq-items result at read time."""
    return state_udf("approx_freqitems_maxerr", LongType(), FreqItemsSketch,
                     lambda sk: int(sk._max_err))


def freq_join_size_udf():
    """Scalar: two frequent-items states -> estimated equi-join output
    cardinality on the sketched key, ``sum_k est_A(k) * est_B(k)`` over
    the smaller sketch's item map.

    EXACT when both states are in the exact regime (no purge yet) — the
    sum is then literally |A JOIN B| on that key. In estimation mode it
    is a heavy-hitter approximation: retained items contribute their
    upper-bound estimates, purged (low-frequency) items contribute 0.
    Join size is dominated by heavy keys (the terms are products), which
    is exactly what the sketch retains — the standard use of frequency
    sketches in join planning."""

    def jsize(sa, sb):
        if len(sa._counts) > len(sb._counts):
            sa, sb = sb, sa
        return sum(sa.estimate(i) * sb.estimate(i) for i in sa._counts)

    return state_udf("approx_join_size", LongType(), FreqItemsSketch, jsize,
                     states=2)


# --------------------------------------------------------------------- distinct count

def theta_est_udf():
    """Estimate for distinct-count states — accepts both Theta/KMV and the
    engine's numpy HLL states (dispatch on the state header), mirroring the
    family-agnostic combine."""
    from ..compat.theta import ThetaWireSketch
    return state_udf("approx_count_distinct_estimate", LongType(),
                     (ThetaSketch, HllSketch, CpcUnionSketch, ThetaWireSketch),
                     lambda sk: sk.estimate())


def distinct_bounds_udf(name: str = "approx_count_distinct_bounds"):
    """Scalar: (theta state, num_std) -> [lower, upper] NDV bounds.

    Exact-regime sketches (Theta with all hashes retained; HLL still in
    its sparse coupon phase) return the exact count for both ends. In
    estimation mode the relative standard error is ``1/sqrt(k-2)`` for
    Theta/KMV (Beyer et al., SIGMOD'07; the constant the DataSketches
    Theta getLowerBound/getUpperBound envelope is built on) and
    ``1.04/sqrt(2^lgk)`` for dense HLL (Flajolet et al., 2007), so
    bounds are ``est / (1 +/- num_std * rse)``. Empirical coverage at
    num_std=2 measured ~98% over 60 trials per family
    (`tests/test_accuracy_bounds.py`)."""

    def std_args(ns=2.0):
        ns = 2.0 if _is_null(ns) else float(ns)
        if ns <= 0:
            raise ValueError(f"{name}: num_std must be > 0")
        return ns,

    def bounds(sk, ns):
        if isinstance(sk, HllSketch):
            exact, rse = sk.is_sparse, 1.04 / np.sqrt(1 << sk.lgk)
        else:  # same KMV bottom-k sample -> same Beyer RSE class
            exact, rse = sk.is_exact(), 1.0 / np.sqrt(sk.k - 2)
        est = sk.estimate()
        if exact:
            return [int(est), int(est)]
        return [int(np.floor(est / (1 + ns * rse))),
                int(np.ceil(est / max(1e-12, 1 - ns * rse)))]

    return state_udf(name, ArrayType(LongType(), containsNull=False),
                     (ThetaSketch, TupleSketch, HllSketch), bounds,
                     args=std_args)


def theta_setop_udf(op: str):
    """Scalar over two Theta states: 'jaccard' -> double, 'intersection' /
    'a_not_b' -> long. Null/corrupt state -> null (estimate-side parity).
    A pair of DataSketches Theta states shares one hash space; mixing one
    with an engine KMV state does not, and gives null."""
    from ..compat.theta import ThetaWireSketch
    name, method = {"jaccard": ("approx_set_jaccard", "jaccard_estimate"),
                    "intersection": ("approx_set_intersection",
                                     "intersection_estimate"),
                    "a_not_b": ("approx_set_difference",
                                "a_not_b_estimate")}[op]

    def setop(a, b):
        if isinstance(a, ThetaWireSketch) != isinstance(b, ThetaWireSketch):
            raise ValueError(
                "cannot mix a DataSketches Theta state with an engine KMV "
                "state (different hash spaces); re-accumulate one side")
        return getattr(a, method)(b)

    return state_udf(name, DoubleType() if op == "jaccard" else LongType(),
                     (ThetaSketch, ThetaWireSketch), setop, states=2)


# --------------------------------------------------------------------- tuple

TUPLE_EST_TYPE = StructType([
    StructField("ndv", LongType()),
    StructField("rows", LongType()),
    StructField("value_sum", DoubleType()),
])

TUPLE_SEGMENT_TYPE = StructType([
    StructField("keys", LongType()),
    StructField("value_sum", DoubleType()),
])


def _tuple_kinds():
    from ..compat.aod import AodWireSketch
    return TupleSketch, AodWireSketch


def tuple_est_udf():
    """Scalar: tuple state -> struct(ndv, rows, value_sum). Foreign
    ArrayOfDoubles (DataSketches Tuple wire, family 9) states decode too
    when they carry the two-value (count, sum) convention
    (``compat/aod.py``)."""
    return state_udf(
        "approx_tuple_estimate", TUPLE_EST_TYPE, _tuple_kinds(),
        lambda sk: (sk.estimate(), sk.rows_estimate(), sk.sum_estimate()))


def tuple_segment_udf():
    """Scalar: (tuple state, min_count) -> struct(keys, value_sum) for
    the segment of keys with per-key row count >= min_count."""
    return state_udf(
        "approx_tuple_segment_estimate", TUPLE_SEGMENT_TYPE, _tuple_kinds(),
        lambda sk, mc: sk.segment_estimate(min_count=mc),
        args=lambda mc=1: (1 if _is_null(mc) else int(mc),))


def tuple_segment_sum_udf():
    """Scalar: (tuple state, min_count, min_sum) -> struct(keys,
    value_sum) for keys with per-key count >= min_count AND per-key sum
    >= min_sum (the value-weighted segment form)."""
    return state_udf(
        "approx_tuple_segment_estimate", TUPLE_SEGMENT_TYPE, _tuple_kinds(),
        lambda sk, mc, ms: sk.segment_estimate(min_count=mc, min_sum=ms),
        args=lambda mc, ms: (1 if _is_null(mc) else int(mc),
                             float("-inf") if _is_null(ms) else float(ms)))


# --------------------------------------------------------------------- bloom


def _bloom_kinds():
    from ..compat.bloomwire import DsBloomFilter
    from ..sketches import BloomFilter
    return BloomFilter, DsBloomFilter


def bloom_estimate_udf():
    """Scalar: bloom state -> distinct-key estimate (fill-ratio based,
    Swamidass & Baldi 2007). Saturated filter -> null."""
    def est(sk):
        n = sk.estimate()
        return None if n < 0 else n

    return state_udf("approx_membership_estimate", LongType(),
                     _bloom_kinds(), est)


def bloom_fpp_udf():
    """Scalar: bloom state -> CURRENT false-positive probability
    (fill_fraction ** n_hashes) — the read-time error surface of the
    membership family, like approx_count_distinct_bounds for NDV."""
    return state_udf("approx_membership_fpp", DoubleType(), _bloom_kinds(),
                     lambda sk: sk.current_fpp())


def _bloom_state(blob):
    """Deserialize either membership dialect: the engine family or a
    DataSketches family-21 wire image."""
    sk = deserialize_any(bytes(blob))
    if not isinstance(sk, _bloom_kinds()):
        raise ValueError("not a bloom state")
    return sk


def _bloom_probe(sk, vals: pd.Series,
                 item_type: str | None = None) -> np.ndarray:
    """Membership test dispatch: engine filters probe the shared
    MurmurHash3 space; wire filters probe XxHash64 (longs as 8-byte LE,
    everything else as UTF-8 strings — the datasketches-java rule).

    ``item_type`` is the plan-time declaration (``ITEM_LONG`` /
    ``ITEM_STR``); when absent, an integer (or integral-float — a
    nullable bigint column arrives from Arrow as float64 whenever the
    batch holds a null) probe against a wire filter tests BOTH hash
    spaces and ORs the results: the state may have been built by either
    Java overload — ``update(long)`` (8-byte-LE keys) or the
    engine's default-``item_type`` accumulate, which renders integer
    keys as UTF-8 strings — and probing only one space silently
    breaks the family's no-false-negative guarantee against the other.
    The OR at most doubles the false-positive rate; pin ``item_type``
    on both sides for the designed fpp."""
    from ..sketches import BloomFilter
    if isinstance(sk, BloomFilter):
        return sk.contains_hashes(hash_series(vals))
    if item_type == ITEM_LONG:
        return sk.contains_longs(_wire_longs(vals))
    if item_type is None:
        longs = None
        if pd.api.types.is_integer_dtype(vals):
            longs = vals.to_numpy(dtype=np.int64)
        elif pd.api.types.is_float_dtype(vals):
            arr = vals.to_numpy(dtype=np.float64)
            if arr.size and np.all(np.isfinite(arr)) \
                    and np.all(arr == np.floor(arr)):
                longs = arr.astype(np.int64)
        if longs is not None:
            in_longs = np.asarray(sk.contains_longs(longs))
            in_strs = np.asarray(
                sk.contains_strings([str(x) for x in longs]))
            return in_longs | in_strs
    return sk.contains_strings(_wire_strings(vals))


def _probe_rows(sk, vals: pd.Series, item_type) -> np.ndarray:
    """Per-row membership of ``vals`` in ``sk``; a null value gives null."""
    out = np.full(len(vals), None, dtype=object)
    ok = vals.notna().to_numpy()
    if ok.any():
        hits = _bloom_probe(sk, vals[ok.tolist()], item_type)
        out[ok] = [bool(b) for b in hits]
    return out


def _positions(values, key=lambda v: v):
    """Yield (key, positional index array) per distinct ``key(value)`` in
    the batch — bytes aren't hashable-groupable through pandas groupby on
    all versions, so group positionally."""
    groups: dict = {}
    for i, v in enumerate(values):
        groups.setdefault(key(v), []).append(i)
    for k, idx in groups.items():
        yield k, np.asarray(idx, dtype=np.int64)


def bloom_contains_udf(item_type: str | None = None):
    """Scalar: (bloom state, value) -> boolean membership test. The
    state column is usually one broadcast literal repeated per row, so
    rows are grouped by state payload: one decode and one vectorized
    probe per distinct state in the Arrow batch.
    ``item_type`` pins the wire-filter hash path at plan time (see
    :func:`_bloom_probe`); None keeps the dtype heuristic."""

    @pandas_udf(BooleanType())
    def contains(states: pd.Series, v: pd.Series) -> pd.Series:
        out = np.full(len(v), None, dtype=object)
        for blob, idx in _positions(
                states, lambda b: None if b is None else bytes(b)):
            if blob is None:
                continue
            try:
                sk = _bloom_state(blob)
            except Exception as ex:
                log.warning(
                    "approx_membership_contains: corrupt state: %s", ex)
                continue
            out[idx] = _probe_rows(sk, v.iloc[idx], item_type)
        return pd.Series(out, dtype=object)

    return contains


def bloom_contains_broadcast_udf(bc, item_type: str | None = None):
    """Scalar membership probe against ONE driver-collected state
    shipped as a SparkContext broadcast — the big-probe path. The
    two-argument ``bloom_contains_udf`` carries the state as a COLUMN,
    which Arrow re-serializes per row (an MB-scale state times a
    million-row probe is terabytes of transfer); this variant moves the
    state once per executor and deserializes once per python worker.
    ``bc`` is ``sc.broadcast(state_bytes)``. ``item_type`` pins the
    wire-filter hash path at plan time (see :func:`_bloom_probe`)."""
    holder: dict = {}

    @pandas_udf(BooleanType())
    def contains(v: pd.Series) -> pd.Series:
        sk = holder.get(0)
        if sk is None:
            sk = holder[0] = _bloom_state(bc.value)
        return pd.Series(_probe_rows(sk, v, item_type), dtype=object)

    return contains


def bloom_contains_keyed_udf(bc, item_type: str | None = None):
    """Scalar membership probe against a PER-GROUP state map shipped as
    one broadcast: ``bc`` is ``sc.broadcast({group_key: state_bytes})``
    (group cardinality is dimension-bounded, so the map is small).
    Args: (group_key, value) -> boolean; unknown group or null -> null.
    Same rationale as :func:`bloom_contains_broadcast_udf` — the state
    must not ride a column past Arrow once per probe row."""
    cache: dict = {}

    @pandas_udf(BooleanType())
    def contains(key: pd.Series, v: pd.Series) -> pd.Series:
        out = np.full(len(v), None, dtype=object)
        states = bc.value
        for kval, idx in _positions(key):
            blob = None if kval is None else states.get(kval)
            if blob is None:
                continue
            sk = cache.get(kval)
            if sk is None:
                sk = cache[kval] = _bloom_state(blob)
            out[idx] = _probe_rows(sk, v.iloc[idx], item_type)
        return pd.Series(out, dtype=object)

    return contains
