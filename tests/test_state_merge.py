"""The reduce-side state fold (``operators.sketch_merge``) against the
GROUPED_AGG merge it replaces, ``groupBy(keys).agg(combine_udf())``.

Each key shape runs at the default Arrow batch size and at two records
per batch, where a group's run of state rows spans many batches and the
fold has to carry the open group across batch boundaries, and under each
merge plan: the hash-partitioned exchange, and the single task that
``sketch_merge`` takes when its input is smaller than one AQE partition.

Theta and HLL states are used because their merges are commutative down
to the bytes, so the two plans must agree byte for byte whatever order
their shuffles deliver the rows in.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from datasketches_spark_spark.functions.udfs import combine_udf
from datasketches_spark_spark.operators import (
    distinct_measure,
    sketch_grouped_agg,
    sketch_merge,
    sketch_partial_multi,
    state_measure,
)

STATES = ["u__state", "h__state"]


@pytest.fixture(params=[("default", "exchange"), ("2", "exchange"),
                        ("default", "single_task"), ("2", "single_task")],
                ids=["batch_default", "batch_2", "batch_default-single_task",
                     "batch_2-single_task"])
def layout(request, spark, merge_plan):
    """The Arrow batch size and the forced merge plan of one run; the ids
    without a plan suffix run the exchange plan."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    size, plan = request.param
    old = spark.conf.get(key)
    if size != "default":
        spark.conf.set(key, size)
    try:
        with merge_plan(plan):
            yield plan
    finally:
        spark.conf.set(key, old)


def _states(raw, keys):
    """Several partial state rows per key: one per (key, chunk)."""
    ms = [state_measure("u", "v", "theta", k=64),
          state_measure("h", "v", "hll", lgk=12)]
    return sketch_partial_multi(raw.repartition(3, "chunk"), keys, ms)


def _by_key(df, keys):
    out = {}
    for r in df.collect():
        k = tuple(r[c] for c in keys)
        assert k not in out, f"group {k} emitted twice"
        out[k] = tuple(None if r[c] is None else bytes(r[c])
                       for c in STATES)
    return out


def _reference(states, keys):
    aggs = [combine_udf()(F.col(c)).alias(c) for c in STATES]
    return (states.groupBy(*keys).agg(*aggs) if keys
            else states.agg(*aggs))


def _check(states, keys):
    got = _by_key(sketch_merge(states, keys, STATES), keys)
    want = _by_key(_reference(states, keys), keys)
    assert got == want
    return got


def _raw(spark, rows, key_schema):
    return spark.createDataFrame(
        rows, f"{key_schema}, chunk int, v long")


def test_int_string_keys(spark, layout):
    rows = [(i % 4, "ab"[i % 2], i % 3, i) for i in range(60)]
    raw = _raw(spark, rows, "a int, b string")
    got = _check(_states(raw, ["a", "b"]), ["a", "b"])
    assert len(got) == 4


def test_null_key(spark, layout):
    # every key (null included) has rows in all three chunks, so its
    # state rows form a run longer than two records
    rows = [(None if i % 3 == 0 else i % 2, i % 3 + 3 * (i % 2), i)
            for i in range(72)]
    raw = _raw(spark, rows, "a int")
    got = _check(_states(raw, ["a"]), ["a"])
    assert set(got) == {(None,), (0,), (1,)}


def test_signed_zero_double_keys(spark, layout):
    rows = [([0.0, -0.0, 1.5][i % 3], i % 4, i) for i in range(48)]
    raw = _raw(spark, rows, "d double")
    got = _check(_states(raw, ["d"]), ["d"])
    assert len(got) == 2


def test_nan_and_null_double_keys_fold_to_one_row(spark, layout):
    """Arrow->pandas renders NaN and null alike, so the fold must meet
    them in one run: one null-key row, never one per partition or batch
    (see the NaN divergence below)."""
    (blob,) = _by_key(_states(_raw(spark, [(1, 0, 7)], "a int"), ["a"])
                      .drop("a"), []).values()
    states = spark.createDataFrame(
        [([None, float("nan"), 2.0][i % 3], *blob) for i in range(48)],
        "d double, u__state binary, h__state binary")
    got = _by_key(sketch_merge(states, ["d"], STATES), ["d"])
    assert set(got) == {(None,), (2.0,)}


def test_window_struct_key(spark, layout):
    t0 = dt.datetime(2024, 1, 1)
    rows = [(t0 + dt.timedelta(hours=7 * i), i % 3, i) for i in range(40)]
    raw = (_raw(spark, rows, "ts timestamp")
           .select(F.window("ts", "1 day").alias("w"), "chunk", "v"))
    got = _check(_states(raw, ["w"]), ["w"])
    assert len(got) == raw.select("w").distinct().count()


def test_no_keys(spark, layout):
    raw = _raw(spark, [(i, i % 3, i) for i in range(30)], "a int")
    states = _states(raw, ["a"]).drop("a")
    (merged,) = _check(states, []).values()
    assert all(s is not None for s in merged)


@pytest.mark.parametrize("where", ["false", "u__state IS NULL"],
                         ids=["pruned", "filtered"])
def test_no_keys_empty_input_gives_one_null_row(spark, layout, where):
    """One all-null row, like a SQL global aggregate over no rows — also
    when the optimizer proves the input empty (``pruned``). The
    GROUPED_AGG merge gives no row at all here."""
    raw = _raw(spark, [(i, i % 3, i) for i in range(30)], "a int")
    states = _states(raw, ["a"]).drop("a").where(where)
    assert _by_key(sketch_merge(states, [], STATES), []) \
        == {(): (None, None)}


def test_all_null_group_gives_null(spark, layout):
    blob = _by_key(sketch_merge(_states(_raw(
        spark, [(1, 0, 7)], "a int"), ["a"]), ["a"], STATES), ["a"])[(1,)]
    states = spark.createDataFrame(
        [(1, blob[0], blob[1]), (2, None, None), (2, None, None)],
        "a int, u__state binary, h__state binary")
    got = _check(states, ["a"])
    assert got[(2,)] == (None, None)
    assert got[(1,)] == blob


def test_corrupt_state_raises(spark, layout):
    states = spark.createDataFrame(
        [(1, bytes(b"\x07garbage"), None)],
        "a int, u__state binary, h__state binary")
    with pytest.raises(Exception):
        sketch_merge(states, ["a"], STATES).collect()


def test_output_names(spark):
    raw = _raw(spark, [(i % 2, 0, i) for i in range(8)], "a int")
    out = sketch_merge(_states(raw, ["a"]), ["a"], STATES, names=["u", "h"])
    assert out.columns == ["a", "u", "h"]


@pytest.mark.xfail(strict=True, reason=(
    "known divergence: Arrow->pandas turns a null double key into NaN, "
    "so the map-side partial merges the NaN group into the null group"))
def test_nan_key_is_its_own_group(spark):
    df = spark.createDataFrame(
        [(float("nan"), 1), (None, 2), (1.0, 3)], "k double, v long")
    got = sketch_grouped_agg(df, ["k"], distinct_measure("n", "v"))
    assert got.count() == df.groupBy("k").count().count()


@pytest.mark.parametrize("keys", [["a"], []], ids=["keyed", "no_keys"])
@pytest.mark.parametrize("plan", ["exchange", "single_task"])
def test_executed_plan_exchanges(spark, merge_plan, plan, keys):
    """The single-task plan has no exchange; the exchange plan has one
    (hash partitioning by the keys, or one partition for no keys)."""
    raw = _raw(spark, [(i % 4, i % 3, i) for i in range(24)], "a int")
    ms = [state_measure("u", "v", "theta", k=64),
          state_measure("h", "v", "hll", lgk=12)]
    states = sketch_partial_multi(raw, ["a"], ms).select(*keys, *STATES)
    with merge_plan(plan):
        merged = sketch_merge(states, keys, STATES)
    executed = merged._jdf.queryExecution().executedPlan().toString()
    assert executed.count("Exchange") == (plan == "exchange")
