"""Contract tests generated from the family table (``families.py``).

Every SQL accumulate name in ``_ACC_FAMILY`` gets the same checks, so a
new family row is covered with no new test code:

* the registered GROUPED_AGG UDF, ``dss.sql``'s two-phase rewrite and
  ``sketch_accumulate`` build byte-identical states (one row path);
* an all-null group accumulates to a null state;
* ``install()`` registers no accumulate name outside the table.

Plus the state-reader contract over everything ``install()`` registers:
corrupt bytes make every estimate return null with one warning naming
the function (through the ``functions.udfs`` logger), and make every
combine raise.
"""

import logging
import warnings

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.udf import UDFRegistration

import datasketches_spark_spark as dss
from datasketches_spark_spark import functions as dsf
from datasketches_spark_spark.families import (
    _ACC_FAMILY, _family, _resolve_acc_family)
from datasketches_spark_spark.operators import sketch_accumulate
from datasketches_spark_spark.sql import _COMBINE_FNS, SketchSqlFallbackWarning

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
    family, params = _resolve_acc_family(name, spark)
    ncols = _family(family, **params).ncols
    return family, params, ("v", "w") if ncols == 2 else "v"


def _states(rows):
    return {r.g: None if r.state is None else bytes(r.state) for r in rows}


@pytest.mark.parametrize("name", sorted(_ACC_FAMILY))
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


@pytest.mark.parametrize("name", sorted(_ACC_FAMILY))
def test_all_null_group_accumulates_to_null(spark, installed, name):
    _, _, cols = _call(name, spark)
    args = ("CAST(NULL AS BIGINT), 1.0" if isinstance(cols, tuple)
            else "CAST(NULL AS BIGINT)")
    (row,) = spark.sql(f"SELECT {name}({args}) AS s FROM range(3)").collect()
    assert row.s is None, name


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


def test_every_registered_accumulate_is_in_the_table(registered):
    acc = {n for n in registered if "_accumulate" in n}
    assert acc == set(_ACC_FAMILY)


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
_TWO_STATE_READERS = {"approx_ks_distance", "approx_join_size",
                      "approx_set_jaccard", "approx_set_intersection",
                      "approx_set_difference"}
_READERS = sorted({
    *_READER_ARGS, *_TWO_STATE_READERS,
    "approx_freqitems_estimate", "approx_freqitems_estimate_long",
    "approx_freqitems_maxerr", "approx_count_distinct_estimate",
    "approx_sample_estimate", "approx_sample_estimate_long",
    "approx_sample_estimate_string", "approx_sample_stream_size",
    "approx_tuple_estimate", "approx_membership_estimate",
    "approx_membership_fpp"})


def test_reader_list_covers_every_registered_estimate(registered):
    estimates = {n for n in registered if "_estimate" in n}
    assert estimates <= set(_READERS)


@pytest.mark.parametrize("name", _READERS)
def test_corrupt_state_estimate_is_null_and_logged_once(registered, caplog,
                                                        name):
    states = 2 if name in _TWO_STATE_READERS else 1
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


@pytest.mark.parametrize("name", sorted(_COMBINE_FNS))
def test_corrupt_state_combine_raises(registered, name):
    with pytest.raises(Exception):
        registered[name].func(pd.Series([b"\x00junk-state"]))
