"""SQL function registration — the engine's ``install()``.

Mirrors the reference's PySpark bootstrap: ``DataSketchApi.install()``
(``DataSketchApi.scala:22-24``) registers every function in the session's
function registry (``shims.scala:58-65``) so they resolve from
``spark.sql(...)``. Here the same 18 names (plus ``*_array`` / ``*_long``
variants, because a Python UDF registration has a single fixed return type)
are registered as Arrow-batched pandas UDFs via ``spark.udf.register``.

SQL-path notes:

* percentage / numSplits arguments are passed as ordinary (constant)
  columns and validated on the first row with the failing function named
  in the error; the DataFrame API in
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

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, BinaryType, DoubleType

from . import conf
from .families import _ACC_FAMILY, _family, _resolve_acc_family
from .functions.distinctcnt import ndv_udf
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
    freq_result_type,
    frequent_items,
    ks_distance_udf,
    percentages_arg,
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
from .sql import _COMBINE_FNS


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


def _sql_percentile(fam, name: str, rule: str, multi: bool):
    """GROUPED_AGG ``name(col, percentage)``: the direct quantile aggregate
    with the percentage as a constant argument column."""
    def finish(sk, p: pd.Series):
        ps = percentages_arg(name, _constant_arg(name, p), multi)
        return sk.quantiles(ps, rule=rule) if multi \
            else sk.quantile(ps[0], rule=rule)

    rt = ArrayType(DoubleType(), containsNull=False) if multi else DoubleType()
    return direct_udf(fam, rt, finish)


def install(spark: SparkSession) -> None:
    """Register all engine functions in the session's SQL registry."""
    rule = conf.quantile_rank_rule(spark)
    for name, impl in [("approx_percentile_ex", conf.quantile_impl(spark)),
                       ("approx_percentile_kll", "KLL"),
                       ("approx_percentile_req", "REQ"),
                       ("approx_percentile_mergeable", "MERGEABLE")]:
        fam = _family("quantile", impl=impl, k=conf.quantile_k(impl, spark))
        spark.udf.register(name, _sql_percentile(fam, name, rule, False))
        spark.udf.register(f"{name}_array",
                           _sql_percentile(fam, f"{name}_array", rule, True))

    # every *_accumulate* name, from the table dss.sql re-plans with
    for name in _ACC_FAMILY:
        family, params = _resolve_acc_family(name, spark)
        spark.udf.register(name, accumulate_udf(_family(family, **params)))
    for name in sorted(_COMBINE_FNS):
        spark.udf.register(name, combine_udf())

    spark.udf.register("approx_percentile_estimate",
                       quantile_est_udf(rule, multi=False))
    spark.udf.register("approx_percentile_estimate_array",
                       quantile_est_udf(rule, multi=True))
    spark.udf.register("approx_pmf_estimate", pmf_est_udf())
    spark.udf.register("approx_rank_estimate", rank_est_udf())
    spark.udf.register("approx_cdf_estimate", cdf_est_udf())
    spark.udf.register("approx_percentile_bounds", quantile_bounds_udf(rule))
    spark.udf.register("approx_ks_distance", ks_distance_udf())

    m = conf.freq_max_map_size(spark)
    for suffix, it in (("", ITEM_STR), ("_long", ITEM_LONG)):
        fam = _family("freq", item_type=it, max_map_size=m)
        spark.udf.register(f"approx_freqitems{suffix}",
                           direct_udf(fam, freq_result_type(it),
                                      frequent_items))
        spark.udf.register(f"approx_freqitems_estimate{suffix}",
                           freq_est_udf(it))
    spark.udf.register("approx_freqitems_maxerr", freq_maxerr_udf())
    spark.udf.register("approx_join_size", freq_join_size_udf())

    tk = conf.distinct_theta_k(spark)
    clgk = conf.distinct_cpc_lgk(spark)
    hlgk = conf.distinct_hll_lgk(spark)
    dimpl = conf.distinct_impl(spark)
    # CPC (the default) is served by the engine's numpy HLL at a CPC-
    # equivalent lgk: exact through its sparse phase, CPC-class RSE past it.
    spark.udf.register("approx_count_distinct_ex",
                       ndv_udf("theta", k=tk) if dimpl == "THETA"
                       else ndv_udf("hll", lgk=hlgk if dimpl == "HLL"
                                    else clgk))
    spark.udf.register("approx_count_distinct_cpc", ndv_udf("hll", lgk=clgk))
    spark.udf.register("approx_count_distinct_theta", ndv_udf("theta", k=tk))
    # Engine HLL under the reference's plain SQL name (shims.scala:32-56).
    # GROUPED_AGG = no partial aggregation, so this is the compatibility
    # path; dss.sql and the DataFrame API keep resolving the same name to
    # the JVM hll_sketch_agg built-in for partial/final physics.
    spark.udf.register("approx_count_distinct_hll", ndv_udf("hll", lgk=hlgk))
    spark.udf.register("approx_count_distinct_estimate", theta_est_udf())
    spark.udf.register("approx_count_distinct_bounds", distinct_bounds_udf())
    spark.udf.register("approx_set_jaccard", theta_setop_udf("jaccard"))
    spark.udf.register("approx_set_intersection",
                       theta_setop_udf("intersection"))
    spark.udf.register("approx_set_difference", theta_setop_udf("a_not_b"))

    # Reservoir sampling family (extension): per-group uniform samples
    # with the same accumulate/combine/estimate lifecycle.
    for suffix, it in (("", ITEM_DOUBLE), ("_long", ITEM_LONG),
                       ("_string", ITEM_STR)):
        spark.udf.register(f"approx_sample_estimate{suffix}",
                           sample_estimate_udf(it))
    spark.udf.register("approx_sample_stream_size", sample_size_udf())

    # tuple / per-key summary sketch (extension; DataSketches Tuple
    # family analog — NDV + per-distinct-key aggregates from one state)
    spark.udf.register("approx_tuple_estimate", tuple_est_udf())
    spark.udf.register("approx_tuple_segment_estimate", tuple_segment_udf())
    spark.udf.register("approx_tuple_bounds",
                       distinct_bounds_udf("approx_tuple_bounds"))

    # Bloom membership filter (extension; DataSketches BloomFilter
    # analog — broadcastable "have I seen this key?" state)
    spark.udf.register("approx_membership_contains", bloom_contains_udf())
    # plan-time-pinned long probe: the SQL twin of accumulate_wire_long
    # (the 2-arg contains dispatches on the Arrow batch dtype, which is
    # null-dependent for bigint columns — see udfs._bloom_probe)
    spark.udf.register("approx_membership_contains_long",
                       bloom_contains_udf(ITEM_LONG))
    spark.udf.register("approx_membership_estimate", bloom_estimate_udf())
    spark.udf.register("approx_membership_fpp", bloom_fpp_udf())

    # Apache DataSketches wire-format import (reference-state migration;
    # estimate fns also read foreign states directly via the deserializer
    # fallback — this converts once for merge-heavy pipelines).
    @pandas_udf(BinaryType())
    def _sql_import_state(states: pd.Series) -> pd.Series:
        from .compat.datasketches import to_engine_sketch
        return pd.Series(
            [None if b is None
             else to_engine_sketch(bytes(b)).serialize() for b in states],
            dtype=object)

    spark.udf.register("import_datasketches_state", _sql_import_state)

    @pandas_udf(BinaryType())
    def _sql_export_state(states: pd.Series) -> pd.Series:
        from .compat.datasketches import to_datasketches_state
        return pd.Series(
            [None if b is None
             else to_datasketches_state(bytes(b)) for b in states],
            dtype=object)

    spark.udf.register("export_datasketches_state", _sql_export_state)

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
