"""Contract tests generated from the SQL function table
(``register.SQL_FUNCTIONS``).

Every accumulate row gets the same checks, so a new family row is covered
with no new test code:

* the registered GROUPED_AGG UDF, ``dss.sql``'s two-phase rewrite and
  ``sketch_accumulate`` build byte-identical states (one row path);
* an all-null group accumulates to a null state, on the registered UDF,
  ``dss.sql``, ``sketch_accumulate`` and ``sketch_grouped_agg`` alike,
  and every direct aggregate ``dss.sql`` re-plans gives the registered
  UDF's null for it;
* ``install()`` registers no accumulate name outside the table.

Every single-state estimate row re-plans in ``dss.sql`` around its
accumulate, with and without its optional argument, and matches
``spark.sql``.

Plus the state-reader contract over everything ``install()`` registers:
corrupt bytes make every estimate return null with one warning naming
the function (through the ``functions.udfs`` logger), and make every
combine raise.
"""

import logging
import warnings

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.udf import UDFRegistration

import datasketches_spark_spark as dss
from datasketches_spark_spark import functions as dsf
from datasketches_spark_spark.families import _family, _resolve_family
from datasketches_spark_spark.operators import (
    distinct_measure, freqitems_measure, percentile_measure, sketch_accumulate,
    sketch_grouped_agg, state_measure)
from datasketches_spark_spark.register import SQL_FUNCTIONS
from datasketches_spark_spark.sql import SketchSqlFallbackWarning


def _names(kind):
    return sorted(n for n, f in SQL_FUNCTIONS.items() if f.kind == kind)


_ACCUMULATE = _names("accumulate")

# Small groups inside every family's exact regime; the null lands in the
# same Arrow batch, so the bigint column reaches Python as float64.
_ROWS = [(0, 17), (0, None), (0, 42), (0, 5), (0, 17), (1, 3), (1, None)]


@pytest.fixture(scope="module")
def installed(spark):
    dss.install(spark)
    df = spark.createDataFrame(_ROWS, "g int, v long") \
        .withColumn("w", (F.col("g") + 1.5).cast("double")).coalesce(1)
    df.createOrReplaceTempView("t_family_table")
    return df


@pytest.fixture(scope="module")
def registered(spark):
    """name -> UDF for everything ``install()`` registers."""
    got = {}
    orig = UDFRegistration.register

    def record(self, name, f, *a, **kw):
        got[name] = f
        return orig(self, name, f, *a, **kw)

    UDFRegistration.register = record
    try:
        dss.install(spark)
    finally:
        UDFRegistration.register = orig
    return got


def _call(name, spark):
    family, params = _resolve_family(*SQL_FUNCTIONS[name].family, spark)
    ncols = _family(family, **params).ncols
    return family, params, ("v", "w") if ncols == 2 else "v"


def _states(rows):
    return {r.g: None if r.state is None else bytes(r.state) for r in rows}


@pytest.mark.parametrize("name", sorted(_ACCUMULATE))
def test_accumulate_paths_build_identical_states(spark, installed, name):
    family, params, cols = _call(name, spark)
    args = ", ".join(cols) if isinstance(cols, tuple) else cols
    query = (f"SELECT g, {name}({args}) AS state FROM t_family_table "
             "GROUP BY g")
    via_udf = _states(spark.sql(query).collect())
    with warnings.catch_warnings():
        warnings.simplefilter("error", SketchSqlFallbackWarning)
        via_rewrite = _states(dss.sql(spark, query).collect())
    via_family = _states(sketch_accumulate(
        installed, ["g"], cols, family, **params).collect())
    assert via_udf == via_family, name
    assert via_rewrite == via_family, name


@pytest.mark.parametrize("name", sorted(_ACCUMULATE))
def test_all_null_group_accumulates_to_null(spark, installed, name):
    _, _, cols = _call(name, spark)
    args = ("CAST(NULL AS BIGINT), 1.0" if isinstance(cols, tuple)
            else "CAST(NULL AS BIGINT)")
    (row,) = spark.sql(f"SELECT {name}({args}) AS s FROM range(3)").collect()
    assert row.s is None, name


@pytest.fixture(scope="module")
def null_group(spark, installed):
    """``_ROWS`` plus group 2, whose every ``v`` is null."""
    df = spark.createDataFrame(_ROWS + [(2, None), (2, None)],
                               "g int, v long") \
        .withColumn("w", (F.col("g") + 1.5).cast("double")).coalesce(1)
    df.createOrReplaceTempView("t_family_null_group")
    return df


@pytest.mark.parametrize("name", sorted(_ACCUMULATE))
def test_all_null_group_state_is_null_on_every_path(spark, null_group,
                                                    name):
    family, params, cols = _call(name, spark)
    args = ", ".join(cols) if isinstance(cols, tuple) else cols
    query = (f"SELECT g, {name}({args}) AS state FROM t_family_null_group "
             "GROUP BY g")
    via_udf = _states(spark.sql(query).collect())
    assert via_udf[2] is None, name
    with warnings.catch_warnings():
        warnings.simplefilter("error", SketchSqlFallbackWarning)
        assert _states(dss.sql(spark, query).collect()) == via_udf, name
    assert _states(sketch_accumulate(
        null_group, ["g"], cols, family, **params).collect()) == via_udf
    assert _states(sketch_grouped_agg(
        null_group, ["g"], state_measure("state", cols, family, **params))
        .collect()) == via_udf


# the literal argument of each direct row, by the estimate it finishes with
_DIRECT_ARGS = {"approx_percentile_estimate": ", 0.5",
                "approx_percentile_estimate_array": ", array(0.25, 0.75)"}


def _direct_calls():
    for n in _names("direct"):
        # dss.sql runs it as the JVM hll_sketch_agg, which counts 0 here
        if n != "approx_count_distinct_hll":
            yield f"{n}(v{_DIRECT_ARGS.get(SQL_FUNCTIONS[n].finish, '')})"


# the operator measure that each of these direct aggregates is
_DIRECT_MEASURES = {
    "approx_percentile_kll": lambda: percentile_measure("e", "v", 0.5,
                                                        impl="KLL"),
    "approx_freqitems": lambda: freqitems_measure("e", "v"),
    "approx_count_distinct_theta": lambda: distinct_measure("e", "v"),
}


@pytest.mark.parametrize("call", list(_direct_calls()))
def test_direct_aggregates_match_the_udf_on_an_all_null_group(
        spark, null_group, call):
    query = f"SELECT g, {call} AS e FROM t_family_null_group GROUP BY g"
    want = {r.g: r.e for r in spark.sql(query).collect()}
    assert want[2] is None, call
    with warnings.catch_warnings():
        warnings.simplefilter("error", SketchSqlFallbackWarning)
        got = {r.g: r.e for r in dss.sql(spark, query).collect()}
    assert got == want, call
    measure = _DIRECT_MEASURES.get(call.split("(")[0])
    if measure is not None:
        assert {r.g: r.e for r in sketch_grouped_agg(
            null_group, ["g"], measure()).collect()} == want, call


@pytest.mark.parametrize("item_type", ["", "_long", "_string"])
def test_all_zero_weight_group_accumulates_to_null(spark, installed,
                                                   item_type):
    (row,) = spark.sql(
        f"SELECT approx_sample_weighted_accumulate{item_type}(id, 0.0) AS s "
        "FROM range(5)").collect()
    assert row.s is None


def test_unknown_sketch_parameters_raise(spark, installed):
    """A parameter the family does not read raises instead of building a
    default sketch, on the batch, streaming and multi-measure paths;
    ``max_groups`` still reaches the batch partial loop."""
    from datasketches_spark_spark.operators import (
        sketch_accumulate_multi, state_measure)
    from datasketches_spark_spark.streaming import sketch_accumulate_stream
    with pytest.raises(ValueError, match="'theta' takes no parameter 'lgk'"):
        sketch_accumulate(installed, ["g"], "v", "theta", lgk=12)
    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="'max_groups'"):
        sketch_accumulate_stream(stream, ["timestamp"], "value", "theta",
                                 max_groups=10)
    with pytest.raises(ValueError, match="'bogus', 'lgk'"):
        sketch_accumulate_multi(installed, ["g"], [
            state_measure("s", "v", "quantile", lgk=12, bogus=1)])
    got = sketch_accumulate(installed, ["g"], "v", "theta", k=64,
                            max_groups=1).collect()
    assert _states(got) == _states(sketch_accumulate(
        installed, ["g"], "v", "theta", k=64).collect())


def test_states_is_not_a_family():
    """State columns are merged by the fold itself (a measure with no
    family), so there is no map-side "states" family to build."""
    with pytest.raises(ValueError, match="unknown sketch family 'states'"):
        _family("states")


def test_every_registered_accumulate_is_in_the_table(registered):
    acc = {n for n in registered if "_accumulate" in n}
    assert acc == set(_ACCUMULATE)


def test_reservoir_string_renders_like_the_family(spark, installed):
    """A nullable bigint column accumulated as strings renders '17', not
    '17.0', on the Column path too."""
    (row,) = installed.where("g = 0").agg(
        dsf.approx_sample_accumulate("v", item_type="string").alias("s"),
        dsf.approx_sample_weighted_accumulate(
            "v", "w", item_type="string").alias("ws")).select(
        dsf.approx_sample_estimate("s", item_type="string").alias("s"),
        dsf.approx_sample_estimate("ws", item_type="string").alias("ws")
    ).collect()
    assert row.s == ["17", "17", "42", "5"]
    assert row.ws == ["17", "17", "42", "5"]


@pytest.mark.parametrize("family,column_fn", [
    ("cpcwire", dsf.approx_count_distinct_accumulate_cpc),
    ("thetawire", dsf.approx_count_distinct_accumulate_theta_wire),
])
def test_fractional_long_key_raises_on_both_paths(spark, family, column_fn):
    df = spark.createDataFrame([(0, 1.0), (0, 1.5)], "g int, v double") \
        .coalesce(1)
    with pytest.raises(Exception, match="non-integral"):
        df.agg(column_fn("v", item_type="long")).collect()
    with pytest.raises(Exception, match="non-integral"):
        sketch_accumulate(df, ["g"], "v", family, item_type="long").collect()


# Literal arguments after the state column(s), for readers that take any.
_READER_ARGS = {
    "approx_percentile_estimate": (0.5,),
    "approx_percentile_estimate_array": ([0.5],),
    "approx_percentile_bounds": (0.5, None),
    "approx_pmf_estimate": (4,),
    "approx_rank_estimate": (1.0,),
    "approx_cdf_estimate": ([1.0],),
    "approx_count_distinct_bounds": (2.0,),
    "approx_tuple_bounds": (2.0,),
    "approx_tuple_segment_estimate": (1,),
}


def _reader_states():
    """name -> state count of every state reader: the table's estimate and
    scalar rows whose UDF is a ``state_udf`` (it carries a ``spec``)."""
    out = {}
    for name, fn in SQL_FUNCTIONS.items():
        if fn.kind in ("estimate", "scalar"):
            spec = getattr(fn.build(None, name), "spec", None)
            if spec is not None:
                out[name] = spec.states
    return out


_READER_STATES = _reader_states()
_READERS = sorted(_READER_STATES)


def test_reader_list_covers_every_registered_estimate(registered):
    estimates = {n for n in registered if "_estimate" in n}
    assert estimates <= set(_READERS)


@pytest.mark.parametrize("name", _READERS)
def test_corrupt_state_estimate_is_null_and_logged_once(registered, caplog,
                                                        name):
    states = _READER_STATES[name]
    cols = [pd.Series([b"\x00junk-state"])] * states + \
        [pd.Series([a]) for a in _READER_ARGS.get(name, ())]
    with caplog.at_level(logging.WARNING,
                         logger="datasketches_spark_spark.functions.udfs"):
        out = registered[name].func(*cols)
    values = out.iloc[0].tolist() if isinstance(out, pd.DataFrame) \
        else [out.iloc[0]]
    assert all(v is None for v in values), (name, values)
    warned = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warned) == 1, (name, warned)
    assert warned[0].getMessage().startswith(f"{name}:"), name


@pytest.mark.parametrize("name", _names("combine"))
def test_corrupt_state_combine_raises(registered, name):
    with pytest.raises(Exception):
        registered[name].func(pd.Series([b"\x00junk-state"]))


# The state each single-state estimate row reads in the query below, and
# its literal-argument variants: without and with the optional argument,
# for a function that has one.
_ESTIMATE_CALLS = {
    "approx_percentile_estimate": ("approx_percentile_accumulate(v)",
                                   [", 0.5"]),
    "approx_percentile_estimate_array": ("approx_percentile_accumulate(v)",
                                         [", array(0.25, 0.75)"]),
    "approx_pmf_estimate": ("approx_percentile_accumulate(v)", ["", ", 4"]),
    "approx_rank_estimate": ("approx_percentile_accumulate(v)", [", 17"]),
    "approx_cdf_estimate": ("approx_percentile_accumulate(v)",
                            [", array(5.0, 20.0)"]),
    "approx_percentile_bounds": ("approx_percentile_accumulate(v)",
                                 [", 0.5", ", 0.5, 0.1"]),
    "approx_freqitems_estimate": ("approx_freqitems_accumulate(v)", [""]),
    # SQL has no long-item freq accumulate: combine DataFrame-API states
    "approx_freqitems_estimate_long": ("approx_freqitems_combine(lst)", [""]),
    "approx_freqitems_maxerr": ("approx_freqitems_accumulate(v)", [""]),
    "approx_count_distinct_estimate": (
        "approx_count_distinct_accumulate(v)", [""]),
    "approx_count_distinct_bounds": ("approx_count_distinct_accumulate(v)",
                                     ["", ", 3.0"]),
    "approx_sample_estimate": ("approx_sample_accumulate(v)", [""]),
    "approx_sample_estimate_long": ("approx_sample_accumulate_long(v)", [""]),
    "approx_sample_estimate_string": ("approx_sample_accumulate_string(v)",
                                      [""]),
    "approx_sample_stream_size": ("approx_sample_accumulate(v)", [""]),
    "approx_tuple_estimate": ("approx_tuple_accumulate(v, w)", [""]),
    "approx_tuple_segment_estimate": ("approx_tuple_accumulate(v, w)",
                                      ["", ", 2"]),
    "approx_tuple_bounds": ("approx_tuple_accumulate(v, w)", ["", ", 3.0"]),
    "approx_membership_estimate": ("approx_membership_accumulate(v)", [""]),
    "approx_membership_fpp": ("approx_membership_accumulate(v)", [""]),
}


def _estimate_calls():
    for name in _names("estimate"):
        inner, variants = _ESTIMATE_CALLS[name]
        for lits in variants:
            yield f"{name}({inner}{lits})"


@pytest.fixture(scope="module")
def estimate_table(spark, installed):
    """``t_family_table`` plus ``lst``: each row's state of long freq
    items, written by the DataFrame API."""
    installed.withColumn("lst", dsf.approx_freqitems_accumulate(
        "v", item_type="long").over(Window.partitionBy("g", "v"))) \
        .createOrReplaceTempView("t_family_estimates")


@pytest.mark.parametrize("call", list(_estimate_calls()))
def test_estimate_rows_replan_and_match_spark_sql(spark, estimate_table,
                                                  call):
    query = f"SELECT g, {call} AS e FROM t_family_estimates GROUP BY g"
    with warnings.catch_warnings():
        warnings.simplefilter("error", SketchSqlFallbackWarning)
        df = dss.sql(spark, query)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "ArrowEvalPython" not in plan, call
    want = {r.g: r.e for r in spark.sql(query).collect()}
    assert {r.g: r.e for r in df.collect()} == want, call


def test_spark_sql_fills_optional_arguments(spark, installed):
    """``spark.sql`` gives a trailing optional argument its default, as
    ``dss.sql`` does."""
    (row,) = spark.sql(
        "SELECT approx_pmf_estimate(approx_percentile_accumulate(v)) AS p, "
        "approx_tuple_segment_estimate(approx_tuple_accumulate(v, w)) AS s "
        "FROM t_family_table").collect()
    assert len(row.p) == 9
    assert row.s.keys == 4


def test_array_estimate_rejects_a_scalar_percentage(spark, installed):
    query = ("SELECT approx_percentile_estimate_array("
             "approx_percentile_accumulate(v), 0.5) AS p FROM t_family_table")
    match = "the percentage is a scalar — use approx_percentile_estimate"
    with pytest.raises(Exception, match=match):
        spark.sql(query).collect()
    with pytest.raises(ValueError, match=match):
        dss.sql(spark, query)
