"""Quantile / percentile sketch functions (reference #1-#8, SURVEY.md §2a).

API parity with ``quantileSketches.scala``: ``approx_percentile_ex`` (impl
chosen by conf ``spark.sql.dataSketches.quantiles.sketchImpl``), forced-impl
variants ``_kll`` / ``_req`` / ``_mergeable``, and the
accumulate / combine / estimate / pmf lifecycle
(``quantileSketches.scala:311-748``).

Value semantics: input numerics are sketched as float32 for KLL/REQ
(reference down-cast, ``quantileSketches.scala:250-255``) and float64 for
MERGEABLE (``:124-127``). Estimate-from-state is always double-typed
(``:601-605``); the direct aggregate preserves the input column type —
incl. Decimal with the reference's precision check — like the reference
does through Catalyst (``quantileSketches.scala:196-211``; type matrix
``ApproximateQuerySuite.scala:52-65``). Python-side we infer the type
from *bound* columns (``df["c"]`` or a bound ``.cast(...)``); an
unresolvable input (a bare ``F.col`` / string name) keeps the double
output, and ``output_type`` always wins when passed explicitly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from .. import conf
from ..families import QUANTILE_DTYPES, _family
from .udfs import (
    Finisher,
    _col,
    accumulate_udf,
    cdf_est_udf,
    combine_udf,
    direct_udf,
    pmf_est_udf,
    rank_est_udf,
    quantile_acc_weighted_udf,
    quantile_est_udf,
    validate_num_splits,
    validate_percentage,
)

# Input types the direct aggregate casts its estimate back to — the
# reference's createOutputConvertFunc matrix (quantileSketches.scala:196-211).
# DECIMAL(p,s) is handled separately (precision-checked).
_PRESERVED_TYPES = {"TINYINT", "SMALLINT", "INT", "BIGINT", "FLOAT", "DOUBLE"}


def infer_bound_type(col) -> str | None:
    """Best-effort SQL type of ``col``, when it is *bound* to a DataFrame.

    Classic PySpark resolves ``df["c"]`` eagerly (`Dataset.col`), so its
    ColumnNode wraps a resolved AttributeReference we can read the dtype
    from; a ``.cast(T)`` node carries T directly. Unresolved columns
    (``F.col("c")``, string names) return None — callers fall back to
    double output, which is also what the two-phase estimate path returns.
    """
    if isinstance(col, str):
        return None
    try:
        node = col._jc.node()
        cls = node.getClass().getName()
        if cls.endswith("ExpressionColumnNode"):
            expr = node.expression()
            if expr.resolved():
                return expr.dataType().sql()
        elif cls.endswith(".Cast"):
            return node.dataType().sql()
    except Exception:
        return None
    return None


def preserve_output_type(out: Column, sql_type: str, multi: bool) -> Column:
    """Cast a double estimate back to the input type, reference-style.

    Decimal follows the reference's precision-check semantics
    (``quantileSketches.scala:203-210``): a value that cannot be
    represented at (p, s) raises instead of silently nulling.
    """
    t = sql_type.strip().upper()
    is_decimal = t.startswith("DECIMAL")
    if not is_decimal and t not in _PRESERVED_TYPES:
        return out  # non-numeric / exotic input: keep the double estimate
    target = f"array<{sql_type}>" if multi else sql_type
    casted = out.cast(target)
    if not is_decimal:
        return casted
    err = F.raise_error(
        F.lit(f"Cannot change precision to {sql_type}")).cast(target)
    if multi:
        nn = lambda c: F.size(F.filter(c, lambda x: x.isNotNull()))
        bad = out.isNotNull() & (nn(casted) != nn(out))
    else:
        bad = out.isNotNull() & casted.isNull()
    return F.when(bad, err).otherwise(casted)


def _resolve(impl: str | None, k: int | None) -> tuple[str, int, type]:
    impl = (impl or conf.quantile_impl()).upper()
    if impl not in conf.QUANTILE_IMPLS:
        raise ValueError(f"unknown quantile sketch impl {impl}")
    if k is None:
        k = conf.quantile_k(impl)
    return impl, int(k), QUANTILE_DTYPES[impl]


def _direct(col, percentage, impl: str | None, k: int | None,
            output_type=None) -> Column:
    ps, multi = validate_percentage(percentage)
    impl, k, _ = _resolve(impl, k)
    rule = conf.quantile_rank_rule()
    fam = _family("quantile", impl=impl, k=k)
    if multi:
        udf = direct_udf(fam, ArrayType(DoubleType(), containsNull=False),
                         lambda sk: sk.quantiles(ps, rule=rule))
    else:
        udf = direct_udf(fam, DoubleType(),
                         lambda sk: sk.quantile(ps[0], rule=rule))
    out = udf(_col(col).cast("double"))
    if output_type is not None:
        return out.cast(output_type)
    inferred = infer_bound_type(col)
    if inferred is not None:
        out = preserve_output_type(out, inferred, multi)
    return out


def approx_percentile_ex(col, percentage, k: int | None = None,
                         output_type=None) -> Column:
    """Percentile estimate; sketch impl from conf (default REQ)."""
    return _direct(col, percentage, None, k, output_type)


def approx_percentile_kll(col, percentage, k: int | None = None,
                          output_type=None) -> Column:
    return _direct(col, percentage, "KLL", k, output_type)


def approx_percentile_req(col, percentage, k: int | None = None,
                          output_type=None) -> Column:
    return _direct(col, percentage, "REQ", k, output_type)


def approx_percentile_mergeable(col, percentage, k: int | None = None,
                                output_type=None) -> Column:
    return _direct(col, percentage, "MERGEABLE", k, output_type)


def approx_percentile_accumulate(col, impl: str | None = None,
                                 k: int | None = None) -> Column:
    """Aggregate raw values into a serialized quantile-sketch state."""
    impl, k, _ = _resolve(impl, k)
    return accumulate_udf(_family("quantile", impl=impl, k=k))(
        _col(col).cast("double"))


def approx_percentile_accumulate_weighted(col, weight,
                                          impl: str | None = None,
                                          k: int | None = None) -> Column:
    """Aggregate (value, count) pairs into a serialized quantile-sketch
    state — the state answers rank/cdf/quantile exactly as if ``value``
    had been accumulated ``count`` times row-by-row. Use after a
    map-side-combined ``GROUP BY value -> count(*)`` so the exchange
    carries distinct values instead of raw rows (guide §2.3)."""
    impl, k, dtype = _resolve(impl, k)
    return quantile_acc_weighted_udf(impl, k, dtype)(
        _col(col).cast("double"), _col(weight).cast("long"))


def approx_percentile_combine(col) -> Column:
    """Merge serialized quantile-sketch states (re-aggregable)."""
    return combine_udf()(_col(col))


def _percentile_finisher(percentage) -> Finisher:
    ps, multi = validate_percentage(percentage)
    name = "approx_percentile_estimate" + ("_array" if multi else "")
    return Finisher(lambda: quantile_est_udf(conf.quantile_rank_rule(), name),
                    ps if multi else ps[0])


def _pmf_finisher(num_splits: int = 9) -> Finisher:
    validate_num_splits(num_splits)
    return Finisher(pmf_est_udf, num_splits)


def _rank_finisher(value) -> Finisher:
    return Finisher(rank_est_udf, float(value))


def _cdf_finisher(split_points) -> Finisher:
    sps = [float(x) for x in split_points]
    if not sps:
        raise ValueError("split_points must be non-empty")
    return Finisher(cdf_est_udf, sps)


def approx_percentile_estimate(col, percentage) -> Column:
    """Decode a state and return quantile(s); output is always double.
    Rank rule from conf ``quantiles.rankRule`` (disc | exclusive)."""
    return _percentile_finisher(percentage)(col)


def approx_pmf_estimate(col, num_splits: int = 9) -> Column:
    """Probability mass over ``num_splits`` equal-width bins of [min, max]."""
    return _pmf_finisher(num_splits)(col)


def approx_rank_estimate(col, value) -> Column:
    """Rank of ``value`` (fraction of mass <= value) from a quantile state
    — the inverse of approx_percentile_estimate. Extension beyond the
    reference's surface (it has quantile + pmf only)."""
    return _rank_finisher(value)(col)


def approx_cdf_estimate(col, split_points) -> Column:
    """Cumulative distribution at each split point (plus a trailing 1.0),
    the cumulative complement of approx_pmf_estimate."""
    return _cdf_finisher(split_points)(col)


def approx_percentile_bounds(col, percentage, eps=None) -> Column:
    """Quantile confidence interval from a persisted state:
    ``[lower, upper]`` = the values at ranks ``p -/+ eps``. With ``eps``
    omitted the sketch's own normalized rank-error bound applies (zero
    in the exact regime — the interval collapses to the point estimate).
    Mirrors the DataSketches quantile API's
    getQuantileLowerBound/getQuantileUpperBound surface. Rank rule from
    conf ``quantiles.rankRule``."""
    from .udfs import quantile_bounds_udf
    return quantile_bounds_udf(conf.quantile_rank_rule())(
        _col(col), F.lit(float(percentage)),
        F.lit(eps).cast("double"))


def approx_ks_distance(col_a, col_b) -> Column:
    """Two-sample Kolmogorov-Smirnov distance between two persisted
    quantile states — exact in the exact regime, rank-error-bounded
    otherwise (`udfs.ks_distance_udf`). Drift detection across windows
    from states alone; the DataSketches library's kolmogorov_smirnov
    test is the same primitive over its quantile sketches."""
    from .udfs import ks_distance_udf
    return ks_distance_udf()(_col(col_a), _col(col_b))
