"""The merge fold emits estimates: parity with the two-node plan.

Every estimator that a ``Measure`` or ``dss.sql`` can name is a
``Finisher``, and ``sketch_merge(finish=)`` runs it on the merged sketch
inside the fold. Its answers must equal the plan that serializes the
merged state and decodes it again in a scalar UDF (``Finisher(col)``, the
``*_estimate`` Column), in values, types, nulls and column names. The
checks are generated from one table of estimators, so an estimator added
to the table is covered with no new test code.
"""

import decimal
import logging
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

import datasketches_spark_spark as dss
from datasketches_spark_spark import functions as dsf
from datasketches_spark_spark.functions import distinctcnt as dc
from datasketches_spark_spark.functions import freqitems as fi
from datasketches_spark_spark.functions import quantiles as qt
from datasketches_spark_spark.functions import sampling as sp
from datasketches_spark_spark.functions import tuplesketch as tp
from datasketches_spark_spark.functions.udfs import (
    Finisher, bloom_estimate_udf, bloom_fpp_udf, combine_fold, tuple_est_udf)
from datasketches_spark_spark.operators.rollup import SketchRollup
from datasketches_spark_spark.operators.sketch_agg import (
    Measure, distinct_measure, freqitems_measure, percentile_measure,
    sketch_accumulate, sketch_grouped_agg, sketch_merge)
from datasketches_spark_spark.sketches import ITEM_DOUBLE, ITEM_LONG, ITEM_STR

# (id, family, params, input column(s), finisher, Column estimator, SQL
# estimate call with {} for the state, SQL accumulate name or None)
_TABLE = [
    ("percentile", "quantile", {"impl": "KLL"}, "v",
     lambda: qt._percentile_finisher(0.5),
     lambda c: dsf.approx_percentile_estimate(c, 0.5),
     "approx_percentile_estimate({}, 0.5)", "approx_percentile_accumulate"),
    ("percentile_array", "quantile", {"impl": "REQ"}, "v",
     lambda: qt._percentile_finisher([0.1, 0.5, 0.9]),
     lambda c: dsf.approx_percentile_estimate(c, [0.1, 0.5, 0.9]),
     "approx_percentile_estimate_array({}, array(0.1, 0.5, 0.9))",
     "approx_percentile_accumulate"),
    ("pmf", "quantile", {"impl": "MERGEABLE"}, "v",
     lambda: qt._pmf_finisher(4), lambda c: dsf.approx_pmf_estimate(c, 4),
     "approx_pmf_estimate({}, 4)", "approx_percentile_accumulate"),
    ("rank", "quantile", {"impl": "KLL"}, "v",
     lambda: qt._rank_finisher(3.0),
     lambda c: dsf.approx_rank_estimate(c, 3.0),
     "approx_rank_estimate({}, 3.0)", "approx_percentile_accumulate"),
    ("cdf", "quantile", {"impl": "KLL"}, "v",
     lambda: qt._cdf_finisher([1.0, 4.0]),
     lambda c: dsf.approx_cdf_estimate(c, [1.0, 4.0]),
     "approx_cdf_estimate({}, array(1.0, 4.0))",
     "approx_percentile_accumulate"),
    ("freqitems", "freq", {"item_type": ITEM_STR}, "item",
     lambda: fi._freqitems_finisher("string"),
     lambda c: dsf.approx_freqitems_estimate(c),
     "approx_freqitems_estimate({})", "approx_freqitems_accumulate"),
    ("freqitems_long", "freq", {"item_type": ITEM_LONG}, "n",
     lambda: fi._freqitems_finisher("long"),
     lambda c: dsf.approx_freqitems_estimate(c, item_type="long"),
     "approx_freqitems_estimate_long({})", None),
    ("distinct_theta", "theta", {}, "item",
     dc._count_distinct_finisher, dsf.approx_count_distinct_estimate,
     "approx_count_distinct_estimate({})",
     "approx_count_distinct_accumulate_theta"),
    ("distinct_hll", "hll", {"lgk": 12}, "item",
     dc._count_distinct_finisher, dsf.approx_count_distinct_estimate,
     "approx_count_distinct_estimate({})", None),
    ("sample", "reservoir", {"k": 8, "item_type": ITEM_DOUBLE}, "v",
     lambda: sp._sample_finisher("double"), dsf.approx_sample_estimate,
     "approx_sample_estimate({})", None),
    ("sample_string", "reservoir", {"k": 8, "item_type": ITEM_STR}, "item",
     lambda: sp._sample_finisher("string"),
     lambda c: dsf.approx_sample_estimate(c, item_type="string"),
     "approx_sample_estimate_string({})", "approx_sample_accumulate_string"),
    ("weighted_sample_long", "wreservoir",
     {"k": 8, "item_type": ITEM_LONG}, ("n", "w"),
     lambda: sp._sample_finisher("long"),
     lambda c: dsf.approx_sample_estimate(c, item_type="long"),
     "approx_sample_estimate_long({})",
     "approx_sample_weighted_accumulate_long"),
    ("tuple", "tuple", {}, ("n", "v"), lambda: Finisher(tuple_est_udf),
     tp.approx_tuple_estimate, "approx_tuple_estimate({})",
     "approx_tuple_accumulate"),
    ("tuple_segment", "tuple", {}, ("n", "v"),
     lambda: tp._tuple_segment_finisher(2),
     lambda c: tp.approx_tuple_segment_estimate(c, 2),
     "approx_tuple_segment_estimate({}, 2)", "approx_tuple_accumulate"),
    ("membership", "bloom", {}, "item",
     lambda: Finisher(bloom_estimate_udf),
     dsf.approx_membership_estimate, "approx_membership_estimate({})",
     "approx_membership_accumulate"),
    ("membership_fpp", "bloom", {}, "item", lambda: Finisher(bloom_fpp_udf),
     dsf.approx_membership_fpp, "approx_membership_fpp({})",
     "approx_membership_accumulate"),
]
_IDS = [t[0] for t in _TABLE]
_BY_ID = {t[0]: t for t in _TABLE}

# Groups 0-2 stay inside every family's exact regime, so the merge order
# cannot change an answer; group 3 has only null inputs.
_ROWS = [(g, float(v), f"i{v % 3}", v % 4, 1.0 + v % 2,
          decimal.Decimal(v) / 4)
         for g, vs in ((0, range(1, 8)), (1, range(2, 6)), (2, (5,)))
         for v in vs] + [(3, None, None, None, None, None)]


@pytest.fixture(scope="module")
def df(spark):
    dss.install(spark)
    d = spark.createDataFrame(
        _ROWS, "g int, v double, item string, n long, w double, "
               "d decimal(10,2)").repartition(3)
    d.createOrReplaceTempView("t_fused")
    return d


def _input(col):
    return list(col) if isinstance(col, tuple) else [col]


def _by_key(frame, col="e"):
    return {r["g"]: r[col] for r in frame.collect()}


def _assert_same(fused, ref, col="e"):
    assert fused.schema[col].dataType == ref.schema[col].dataType
    assert _by_key(fused, col) == _by_key(ref, col)


def _two_node(df, tid):
    """The parent plan: the merged state, then the Column estimator."""
    _, family, params, col, _, column, _, _ = _BY_ID[tid]
    states = sketch_accumulate(df, ["g"], col, family, **params)
    return states.select("g", column(F.col("state")).alias("e"))


@pytest.mark.parametrize("tid", _IDS)
def test_grouped_agg_matches_two_node_plan(df, tid):
    _, family, params, col, finisher, _, _, _ = _BY_ID[tid]
    fused = sketch_grouped_agg(df, ["g"],
                               Measure("e", col, family, finisher(), **params))
    ref = _two_node(df, tid)
    _assert_same(fused, ref)
    assert fused.columns == ["g", "e"]
    assert "ArrowEvalPython" not in _plan(fused)
    assert "ArrowEvalPython" in _plan(ref)


@pytest.mark.parametrize("tid", _IDS)
def test_all_null_state_group_matches(spark, df, tid):
    """A group whose states are all null: null, or for a struct result
    the struct of nulls a struct-returning pandas UDF gives."""
    _, family, params, col, finisher, column, _, _ = _BY_ID[tid]
    states = sketch_accumulate(df, ["g"], col, family, **params).union(
        spark.createDataFrame([(4, None), (4, None)], "g int, state binary"))
    fused = _by_key(sketch_merge(states, ["g"], "state",
                                 finish=[finisher()]), "state")
    ref = _by_key(sketch_merge(states, ["g"], "state").select(
        "g", column(F.col("state")).alias("state")), "state")
    assert fused == ref
    null = (None, None) if tid == "tuple_segment" \
        else (None, None, None) if tid == "tuple" else None
    assert fused[4] == null


@pytest.mark.parametrize("tid", _IDS)
def test_rollup_estimate_matches_two_node_plan(spark, df, tmp_path, tid):
    _, family, params, col, finisher, column, _, _ = _BY_ID[tid]
    roll = SketchRollup(str(tmp_path / "roll"), ["g"],
                        [Measure("e", col, family, finisher(), **params)])
    roll.build(df)
    roll.refresh(df.where("g < 2"))   # two partial rows for groups 0 and 1
    fused = roll.estimate(spark)
    merged = roll.query(spark)
    ref = merged.select("g", column(merged["e__state"]).alias("e"))
    _assert_same(fused, ref)
    assert "ArrowEvalPython" not in _plan(fused)


@pytest.mark.parametrize("tid", [t for t in _IDS if _BY_ID[t][7]])
def test_sql_estimate_of_accumulate_matches(spark, df, tid):
    _, _, _, col, _, _, call, acc = _BY_ID[tid]
    arg = call.format(f"{acc}({', '.join(_input(col))})")
    got = dss.sql(spark, f"SELECT g, {arg} AS e FROM t_fused GROUP BY g")
    _assert_same(got, _two_node(df, tid))
    assert "ArrowEvalPython" not in _plan(got)


@pytest.mark.parametrize("tid", _IDS)
def test_sql_estimate_of_combine_matches(spark, df, tid):
    _, family, params, col, _, column, call, _ = _BY_ID[tid]
    states = sketch_accumulate(df, ["g"], col, family, **params)
    states.createOrReplaceTempView("t_fused_states")
    got = dss.sql(spark, "SELECT g, "
                         + call.format("approx_sample_combine(state)")
                         + " AS e FROM t_fused_states GROUP BY g")
    ref = sketch_merge(states, ["g"], "state") \
        .select("g", column(F.col("state")).alias("e"))
    _assert_same(got, ref)
    assert "ArrowEvalPython" not in _plan(got)


def _plan(frame) -> str:
    return frame._jdf.queryExecution().sparkPlan().toString()


# --------------------------------------------------------------- shapes

def test_mixed_fused_and_column_estimators(df):
    """A Column-lambda estimator (perfbench's freq struct) runs after the
    fold over the merged state; the finisher measures run in it."""
    freq = freqitems_measure("items", "item")
    freq.estimator = lambda c: F.struct(
        dsf.approx_freqitems_estimate(c).alias("items"),
        dsf.approx_freqitems_maxerr(c).alias("max_err"))
    ms = [percentile_measure("p", "v", [0.25, 0.75], impl="KLL"),
          distinct_measure("u", "item"), freq]
    got = sketch_grouped_agg(df, ["g"], *ms)
    assert got.columns == ["g", "p", "u", "items"]
    ref = sketch_accumulate(df, ["g"], "v", "quantile", impl="KLL").select(
        "g", dsf.approx_percentile_estimate("state", [0.25, 0.75]).alias("p"))
    assert _by_key(got, "p") == _by_key(ref, "p")
    items = _by_key(got, "items")
    ref_items = _by_key(sketch_accumulate(
        df, ["g"], "item", "freq", item_type=ITEM_STR).select(
            "g", freq.estimator(F.col("state")).alias("items")), "items")
    assert items == ref_items
    assert items[0]["max_err"] == 0 and items[3] is not None
    alone = sketch_grouped_agg(df, ["g"], freq)
    assert _plan(got).count("ArrowEvalPython") \
        == _plan(alone).count("ArrowEvalPython")


def test_preserve_type_on_decimal_is_a_jvm_cast(df):
    m = percentile_measure("e", "d", 0.5, impl="KLL", preserve_type=True)
    got = sketch_grouped_agg(df, ["g"], m)
    ref = sketch_accumulate(df, ["g"], "d", "quantile", impl="KLL").select(
        "g", qt.preserve_output_type(
            dsf.approx_percentile_estimate("state", 0.5),
            "decimal(10,2)", False).alias("e"))
    _assert_same(got, ref)
    assert str(got.schema["e"].dataType) == "DecimalType(10,2)"
    assert _by_key(got)[0] == decimal.Decimal("1.00")


def test_sql_having_and_order_by_on_estimate_alias(spark, df):
    got = dss.sql(spark, """
        SELECT g, approx_percentile_estimate(approx_percentile_accumulate(v),
                                             0.5) AS p50,
               approx_count_distinct_estimate(
                   approx_count_distinct_accumulate_theta(item)) AS u
        FROM t_fused GROUP BY g HAVING p50 > 2 ORDER BY u DESC, g""")
    ref = _by_key(_two_node(df, "percentile"))
    want = sorted((g for g in ref if ref[g] is not None and ref[g] > 2),
                  key=lambda g: (-_by_key(_two_node(df, "distinct_theta"))[g],
                                 g))
    assert [r["g"] for r in got.collect()] == want
    assert got.columns == ["g", "p50", "u"]


def test_rank_rule_is_read_when_the_fold_is_built(spark, df):
    key = "spark.sql.dataSketches.quantiles.rankRule"
    f = qt._percentile_finisher(0.5)    # built before the conf changes
    spark.conf.set(key, "exclusive")
    try:
        fused = sketch_grouped_agg(df, ["g"], Measure(
            "e", "v", "quantile", f, impl="KLL"))
        ref = sketch_accumulate(df, ["g"], "v", "quantile", impl="KLL") \
            .select("g", f(F.col("state")).alias("e"))
        want = _by_key(ref)
    finally:
        spark.conf.unset(key)
    assert _by_key(fused) == want
    assert want != _by_key(_two_node(df, "percentile"))


# --------------------------------------------------------------- errors

def _fold(finisher, blobs):
    fold = combine_fold(["g"], ["s"], [finisher.bind()])
    return pd.concat(fold(iter([pd.DataFrame({"g": [0] * len(blobs),
                                              "s": blobs})])))


def test_wrong_kind_state_is_null_with_one_warning(caplog):
    from datasketches_spark_spark.sketches import ThetaSketch
    theta = ThetaSketch()
    theta.update_strings(["a", "b"])
    with caplog.at_level(logging.WARNING,
                         logger="datasketches_spark_spark.functions.udfs"):
        out = _fold(qt._percentile_finisher(0.5),
                    [theta.serialize(), theta.serialize()])
    assert out["s"].tolist() == [None]
    warned = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warned) == 1
    assert warned[0].getMessage().startswith("approx_percentile_estimate:")


def test_finisher_error_is_null_with_one_warning(caplog, df, spark):
    """An error in the estimate itself follows the same rule."""
    from datasketches_spark_spark.functions.udfs import state_udf
    from datasketches_spark_spark.sketches import KllSketch
    from pyspark.sql.types import DoubleType

    def boom(sk):
        raise RuntimeError("boom")

    f = Finisher(lambda: state_udf("boom_estimate", DoubleType(),
                                   (KllSketch,), boom))
    sk = KllSketch()
    sk.update_batch(pd.Series([1.0, 2.0]).to_numpy())
    with caplog.at_level(logging.WARNING,
                         logger="datasketches_spark_spark.functions.udfs"):
        out = _fold(f, [sk.serialize()])
    assert out["s"].tolist() == [None]
    warned = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert [r.getMessage().split(":")[0] for r in warned] == ["boom_estimate"]
    got = sketch_grouped_agg(df, ["g"], Measure("e", "v", "quantile", f))
    assert set(_by_key(got).values()) == {None}


def test_corrupt_blob_raises_in_the_fold(spark):
    bad = spark.createDataFrame([(0, b"\x00junk-state")], "g int, s binary")
    with pytest.raises(Exception):
        sketch_merge(bad, ["g"], "s",
                     finish=[qt._percentile_finisher(0.5)]).collect()
    with pytest.raises(ValueError):
        _fold(qt._percentile_finisher(0.5), [b"\x00junk-state"])


def test_datasketches_hll_state_after_merge_raises_as_before(spark):
    """The Column estimate routes DataSketches HLL bytes to the JVM; after
    a merge the fold raises on them, fused or not, as the parent plan
    did."""
    st = spark.range(60).select((F.col("id") % 3).alias("g"),
                                F.col("id").alias("v")) \
        .groupBy("g").agg(F.hll_sketch_agg("v").alias("s"))
    direct = _by_key(st.select(
        "g", dsf.approx_count_distinct_estimate("s").alias("e")))
    assert direct == {0: 20, 1: 20, 2: 20}
    for merged in (
            sketch_merge(st, ["g"], "s").select(
                "g", dsf.approx_count_distinct_estimate("s")),
            sketch_merge(st, ["g"], "s",
                         finish=[dc._count_distinct_finisher()])):
        with pytest.raises(Exception,
                           match="DataSketches HLL states need no conversion"):
            merged.collect()
    st.createOrReplaceTempView("t_fused_dshll")
    with pytest.raises(Exception,
                       match="DataSketches HLL states need no conversion"):
        dss.sql(spark, "SELECT g, approx_count_distinct_estimate("
                       "approx_count_distinct_combine(s)) AS e "
                       "FROM t_fused_dshll GROUP BY g").collect()


# --------------------------------------------------------------- rollup reads

def test_rollup_states_read_the_footer_schema(spark, df, tmp_path,
                                              jobs_during):
    roll = SketchRollup(str(tmp_path / "roll"), ["g"],
                        [percentile_measure("p", "v", 0.5)])
    roll.build(df)
    states, jobs = jobs_during(lambda: roll.states(spark))
    assert jobs == set()
    assert states.schema == spark.read.parquet(roll.path).schema


def test_rollup_states_without_footer_or_files(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    path = str(tmp_path / "plain")
    os.makedirs(path)
    pq.write_table(pa.table({"g": [1, 2], "p__state": [b"x", None]}),
                   os.path.join(path, "part-0.parquet"))
    roll = SketchRollup(path, ["g"], [percentile_measure("p", "v", 0.5)])
    assert roll.states(spark).schema == spark.read.parquet(path).schema
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    with pytest.raises(Exception) as want:
        spark.read.parquet(empty)
    with pytest.raises(type(want.value)):
        SketchRollup(empty, ["g"], []).states(spark)


def test_finish_needs_one_entry_per_state_column(spark):
    st = spark.createDataFrame([(0, None, None)], "g int, a binary, b binary")
    with pytest.raises(ValueError, match="finish has 1 entries for 2"):
        sketch_merge(st, ["g"], ["a", "b"],
                     finish=[qt._percentile_finisher(0.5)])
