"""The engine's SQL function table and its ``install()``.

Mirrors the reference's PySpark bootstrap: the reference declares its SQL
functions once, in one function-registry list with one usage string per
name (``shims.scala:32-56``), and ``DataSketchApi.install()``
(``DataSketchApi.scala:22-24``) registers that list so the names resolve
from ``spark.sql(...)``. Here every engine SQL name is one row of
:data:`SQL_FUNCTIONS`: the reference's 18 names, plus ``*_array`` /
``*_long`` variants (a Python UDF registration has a single fixed return
type) and the extension families. Three things read the table:

* :func:`install` registers one Arrow-batched pandas UDF per row;
* ``dss.sql`` (``sql.py``) classifies select items by their rows and
  re-plans them onto the two-phase operator;
* ``funcdocs.install_function_docs`` attaches each row's
  ``DESCRIBE FUNCTION`` docs.

A row's kind is its execution shape:

* ``accumulate``: raw values -> the serialized state of ``family``
  (GROUPED_AGG);
* ``combine``: states -> one merged state (GROUPED_AGG);
* ``estimate``: one state and literal arguments -> a value: the
  ``state_udf`` that ``build`` makes, whose ``spec`` carries the state
  count, the return type and the ``args`` validator both SQL surfaces
  share;
* ``direct``: raw values and literal arguments -> the ``finish``
  estimate of the group's ``family`` sketch (GROUPED_AGG; ``dss.sql``
  runs it as an accumulate whose merge fold estimates);
* ``scalar``: every other registered function: two-state readers,
  membership probes, wire-format import and export.

A ``family`` is ``(family, params)`` before the session's conf fills in
the rest (``families._resolve_family``), so each UDF is built with the
conf ``install`` or ``dss.sql`` reads at plan time. Adding an SQL function
is one row here and one ``funcdocs.FUNCTION_DOCS`` entry.

SQL-path notes:

* literal arguments (percentage, numSplits, ...) are passed as ordinary
  (constant) columns and validated on the first row with the failing
  function named in the error; the DataFrame API in
  ``datasketches_spark_spark.functions`` and the two-phase SQL front-end
  ``dss.sql()`` both validate eagerly before any job starts, matching the
  reference's AnalysisException timing.
* ``approx_count_distinct_hll`` works from bare ``spark.sql`` like the
  reference's registration does (``shims.scala:32-56``; used in SQL by
  ``ApproximateQuerySuite.scala``): it runs the engine's numpy HLL at
  ``distinctCnt.hll.lgK`` as a GROUPED_AGG pandas UDAF. Accuracy matches
  the JVM built-in; the *fast* HLL paths stay ``dss.sql`` and the
  DataFrame API, which resolve the name to Spark's native
  ``hll_sketch_agg`` / ``hll_sketch_estimate`` (TypedImperativeAggregate
  — partial/final physics the Python UDAF cannot get).
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from . import conf
from .compat import export_state_udf, import_state_udf
from .families import _family, _resolve_family
from .functions.sampling import sample_estimate_udf, sample_size_udf
from .functions.udfs import (
    accumulate_udf,
    bloom_contains_udf,
    bloom_estimate_udf,
    bloom_fpp_udf,
    cdf_est_udf,
    combine_udf,
    direct_udf,
    distinct_bounds_udf,
    freq_est_udf,
    freq_join_size_udf,
    freq_maxerr_udf,
    ks_distance_udf,
    pmf_est_udf,
    quantile_bounds_udf,
    quantile_est_udf,
    rank_est_udf,
    theta_est_udf,
    theta_setop_udf,
    tuple_est_udf,
    tuple_segment_udf,
)
from .sketches import ITEM_DOUBLE, ITEM_LONG, ITEM_STR


class SqlFunction(NamedTuple):
    """One row of :data:`SQL_FUNCTIONS` (see the module docstring)."""
    kind: str
    family: tuple | None = None    # accumulate, direct: (family, params)
    build: Callable | None = None  # estimate, scalar: (spark, name) -> UDF
    finish: str | None = None      # direct: the estimate row it ends with


def _accumulate(family, item_type=None) -> SqlFunction:
    params = {} if item_type is None else {"item_type": item_type}
    return SqlFunction("accumulate", family=(family, params))


def _direct(family, finish: str, **params) -> SqlFunction:
    return SqlFunction("direct", family=(family, params), finish=finish)


def _estimate(builder, *args, kind: str = "estimate") -> SqlFunction:
    """A row whose UDF is ``builder(*args)``, which reads no conf."""
    return SqlFunction(kind, build=lambda spark, name: builder(*args))


def _scalar(builder, *args) -> SqlFunction:
    return _estimate(builder, *args, kind="scalar")


_COMBINE = SqlFunction("combine")
_PERCENTILE = SqlFunction("estimate", build=lambda spark, name: (
    quantile_est_udf(conf.quantile_rank_rule(spark), name)))
_PCT, _PCTS = "approx_percentile_estimate", "approx_percentile_estimate_array"
_NDV = "approx_count_distinct_estimate"

# Family None is the distinct count of params["impl"], or of the conf's
# distinctCnt.sketchImpl without one (families._resolve_family).
SQL_FUNCTIONS: dict[str, SqlFunction] = {
    # ---- quantiles
    "approx_percentile_ex": _direct("quantile", _PCT),
    "approx_percentile_kll": _direct("quantile", _PCT, impl="KLL"),
    "approx_percentile_req": _direct("quantile", _PCT, impl="REQ"),
    "approx_percentile_mergeable": _direct("quantile", _PCT, impl="MERGEABLE"),
    "approx_percentile_ex_array": _direct("quantile", _PCTS),
    "approx_percentile_kll_array": _direct("quantile", _PCTS, impl="KLL"),
    "approx_percentile_req_array": _direct("quantile", _PCTS, impl="REQ"),
    "approx_percentile_mergeable_array": _direct("quantile", _PCTS,
                                                 impl="MERGEABLE"),
    "approx_percentile_accumulate": _accumulate("quantile"),
    "approx_percentile_combine": _COMBINE,
    _PCT: _PERCENTILE,
    _PCTS: _PERCENTILE,
    "approx_pmf_estimate": _estimate(pmf_est_udf),
    "approx_rank_estimate": _estimate(rank_est_udf),
    "approx_cdf_estimate": _estimate(cdf_est_udf),
    "approx_percentile_bounds": SqlFunction(
        "estimate", build=lambda spark, name: quantile_bounds_udf(
            conf.quantile_rank_rule(spark))),
    "approx_ks_distance": _scalar(ks_distance_udf),
    # ---- frequent items
    "approx_freqitems": _direct("freq", "approx_freqitems_estimate"),
    "approx_freqitems_long": _direct("freq", "approx_freqitems_estimate_long",
                                     item_type=ITEM_LONG),
    "approx_freqitems_accumulate": _accumulate("freq"),
    "approx_freqitems_combine": _COMBINE,
    "approx_freqitems_estimate": _estimate(freq_est_udf, ITEM_STR),
    "approx_freqitems_estimate_long": _estimate(freq_est_udf, ITEM_LONG),
    "approx_freqitems_maxerr": _estimate(freq_maxerr_udf),
    "approx_join_size": _scalar(freq_join_size_udf),
    # ---- distinct count. CPC (the default) is served by the engine's
    # numpy HLL at a CPC-equivalent lgk: exact through its sparse phase,
    # CPC-class RSE past it.
    "approx_count_distinct_ex": _direct(None, _NDV),
    "approx_count_distinct_cpc": _direct(None, _NDV, impl="CPC"),
    "approx_count_distinct_theta": _direct("theta", _NDV),
    # the one named special case: dss.sql and the DataFrame API run it as
    # the JVM hll_sketch_agg built-in (partial/final physics); spark.sql
    # runs this engine UDF, a GROUPED_AGG with no partial aggregation
    "approx_count_distinct_hll": _direct(None, _NDV, impl="HLL"),
    "approx_count_distinct_accumulate": _accumulate(None),
    "approx_count_distinct_accumulate_theta": _accumulate("theta"),
    "approx_count_distinct_accumulate_cpc": _accumulate("cpcwire"),
    "approx_count_distinct_accumulate_cpc_long": _accumulate("cpcwire",
                                                             ITEM_LONG),
    "approx_count_distinct_accumulate_theta_wire": _accumulate("thetawire"),
    "approx_count_distinct_accumulate_theta_wire_long": _accumulate(
        "thetawire", ITEM_LONG),
    "approx_count_distinct_combine": _COMBINE,
    _NDV: _estimate(theta_est_udf),
    "approx_count_distinct_bounds": _estimate(
        distinct_bounds_udf, "approx_count_distinct_bounds"),
    "approx_set_jaccard": _scalar(theta_setop_udf, "jaccard"),
    "approx_set_intersection": _scalar(theta_setop_udf, "intersection"),
    "approx_set_difference": _scalar(theta_setop_udf, "a_not_b"),
    # ---- reservoir sampling (extension): per-group uniform samples;
    # the weighted ones take (value, weight), two input columns
    "approx_sample_accumulate": _accumulate("reservoir", ITEM_DOUBLE),
    "approx_sample_accumulate_long": _accumulate("reservoir", ITEM_LONG),
    "approx_sample_accumulate_string": _accumulate("reservoir", ITEM_STR),
    "approx_sample_weighted_accumulate": _accumulate("wreservoir",
                                                     ITEM_DOUBLE),
    "approx_sample_weighted_accumulate_long": _accumulate("wreservoir",
                                                          ITEM_LONG),
    "approx_sample_weighted_accumulate_string": _accumulate("wreservoir",
                                                            ITEM_STR),
    "approx_sample_combine": _COMBINE,
    "approx_sample_estimate": _estimate(sample_estimate_udf, ITEM_DOUBLE),
    "approx_sample_estimate_long": _estimate(sample_estimate_udf, ITEM_LONG),
    "approx_sample_estimate_string": _estimate(sample_estimate_udf, ITEM_STR),
    "approx_sample_stream_size": _estimate(sample_size_udf),
    # ---- tuple / per-key summary (extension): (key, value) aggregates
    "approx_tuple_accumulate": _accumulate("tuple"),
    "approx_tuple_accumulate_wire": _accumulate("aodwire"),
    "approx_tuple_accumulate_wire_long": _accumulate("aodwire", ITEM_LONG),
    "approx_tuple_combine": _COMBINE,
    "approx_tuple_estimate": _estimate(tuple_est_udf),
    "approx_tuple_segment_estimate": _estimate(tuple_segment_udf),
    "approx_tuple_bounds": _estimate(distinct_bounds_udf,
                                     "approx_tuple_bounds"),
    # ---- Bloom membership (extension)
    "approx_membership_accumulate": _accumulate("bloom"),
    "approx_membership_accumulate_wire": _accumulate("bloomwire"),
    "approx_membership_accumulate_wire_long": _accumulate("bloomwire",
                                                          ITEM_LONG),
    "approx_membership_combine": _COMBINE,
    "approx_membership_estimate": _estimate(bloom_estimate_udf),
    "approx_membership_fpp": _estimate(bloom_fpp_udf),
    "approx_membership_contains": _scalar(bloom_contains_udf),
    # plan-time-pinned long probe: the SQL twin of accumulate_wire_long
    # (the 2-arg contains dispatches on the Arrow batch dtype, which is
    # null-dependent for bigint columns — see udfs._bloom_probe)
    "approx_membership_contains_long": _scalar(bloom_contains_udf, ITEM_LONG),
    # ---- Apache DataSketches wire-format import and export
    # (reference-state migration; estimates also read foreign states
    # directly, import converts once for merge-heavy pipelines)
    "import_datasketches_state": _scalar(import_state_udf),
    "export_datasketches_state": _scalar(export_state_udf),
}


def finish_udf(spark: SparkSession, name: str):
    """The ``state_udf`` that finishes the estimate or direct function
    ``name``: an estimate row's own, or a direct row's ``finish``
    estimate. Either is named ``name``, so its errors name the function
    the query called."""
    fn = SQL_FUNCTIONS[name]
    return SQL_FUNCTIONS[fn.finish or name].build(spark, name)


def _constant_arg(name: str, p: pd.Series):
    """Enforce the reference's constant-literal contract for aggregate
    parameters (``quantileSketches.scala:176-184``: 'The percentage(s)
    must be a constant literal'). An aggregate that silently used the
    group's first row would return a plausible-but-wrong answer for
    per-row parameters — raise instead."""
    keys = p.map(lambda x: tuple(x)
                 if isinstance(x, (list, tuple, np.ndarray)) else x)
    if keys.nunique(dropna=False) > 1:
        raise ValueError(
            f"{name}: the percentage(s) must be a constant literal")
    return p.iloc[0]


def _direct_udf(spark: SparkSession, name: str, fn: SqlFunction):
    """GROUPED_AGG ``name(col, literals...)``: the family sketch of the
    group, finished by the ``fn.finish`` estimate with the literal
    argument columns, each constant over the group."""
    spec = finish_udf(spark, name).spec

    def finish(sk, *cols: pd.Series):
        lits = [_constant_arg(name, c) for c in cols]
        args = tuple(lits) if spec.args is None else spec.args(*lits)
        return None if args is None else spec.fn(sk, *args)

    family, params = _resolve_family(*fn.family, spark)
    return direct_udf(_family(family, **params), spec.return_type, finish)


def _sql_udf(spark: SparkSession, name: str):
    """The UDF :func:`install` registers for ``name``, built with
    ``spark``'s conf."""
    fn = SQL_FUNCTIONS[name]
    if fn.kind == "accumulate":
        family, params = _resolve_family(*fn.family, spark)
        return accumulate_udf(_family(family, **params))
    if fn.kind == "combine":
        return combine_udf()
    if fn.kind == "direct":
        return _direct_udf(spark, name, fn)
    return fn.build(spark, name)


def install(spark: SparkSession) -> None:
    """Register all engine functions in the session's SQL registry."""
    for name in SQL_FUNCTIONS:
        spark.udf.register(name, _sql_udf(spark, name))

    # Embedding preparation for SQL users — Spark 4 SQL-defined functions
    # (CREATE FUNCTION ... RETURN <expr>), so the SQL surface gets the
    # same whole-stage-codegen expressions as the DataFrame API, NOT a
    # Python UDF detour. Same half-up rounding contract as
    # functions/embeddings.py (the two surfaces must hash-match).
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION l2_normalize(v ARRAY<DOUBLE>)
        RETURNS ARRAY<DOUBLE>
        RETURN CASE
          WHEN aggregate(v, 0.0D, (a, x) -> a + x * x) = 0.0D THEN v
          ELSE transform(v, x -> x / sqrt(
               aggregate(v, 0.0D, (a, x) -> a + x * x))) END
    """)
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION quantize_int8(v ARRAY<DOUBLE>)
        RETURNS STRUCT<scale: DOUBLE, q: ARRAY<TINYINT>>
        RETURN named_struct(
          'scale', array_max(transform(v, x -> abs(x))) / 127.0D,
          'q', CASE WHEN array_max(transform(v, x -> abs(x))) = 0.0D
               THEN transform(v, x -> CAST(0 AS TINYINT))
               ELSE transform(v, x -> CAST(floor(
                    x / (array_max(transform(v, y -> abs(y))) / 127.0D)
                    + 0.5D) AS TINYINT)) END)
    """)
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION dequantize_int8(
            s STRUCT<scale: DOUBLE, q: ARRAY<TINYINT>>)
        RETURNS ARRAY<DOUBLE>
        RETURN transform(s.q, x -> CAST(x AS DOUBLE) * s.scale)
    """)

    # DESCRIBE FUNCTION metadata (reference parity with shims.scala's
    # ExpressionInfo usage strings) — best-effort over internal API.
    from .funcdocs import install_function_docs
    install_function_docs(spark)
