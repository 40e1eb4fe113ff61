"""Tuple (per-key summary) sketch family — sketches/tuple.py,
functions/tuplesketch.py, the sketch_agg "tuple" two-phase family, and
the dss.sql surface. Exact-regime answers are checked against
relational truth; estimation-regime coverage lives in
accuracy_report.py (tuple_segment_estimation envelope)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from datasketches_spark_spark.sketches import (
    TupleSketch,
    deserialize_any,
    hash_longs,
    hash_strings,
)


# ----------------------------------------------------------------- kernel

def test_exact_regime_matches_truth():
    rng = np.random.default_rng(3)
    keys = rng.integers(0, 500, 10_000)
    vals = rng.integers(0, 100, 10_000).astype(np.float64)
    sk = TupleSketch(k=4096)
    sk.update_batch(hash_longs(keys), vals)
    assert sk.is_exact()
    assert sk.estimate() == len(np.unique(keys))
    assert sk.rows_estimate() == 10_000
    assert sk.sum_estimate() == vals.sum()
    # per-key predicate, exact
    counts = np.bincount(keys, minlength=500)
    sums = np.bincount(keys, weights=vals, minlength=500)
    m = counts >= 25
    assert sk.segment_estimate(25) == (int(m.sum()), float(sums[m].sum()))


def test_merge_equals_single_pass_and_order_invariant():
    rng = np.random.default_rng(7)
    keys = rng.integers(0, 50_000, 60_000)  # saturates k=1024
    vals = rng.random(60_000)
    one = TupleSketch(k=1024)
    one.update_batch(hash_longs(keys), vals)
    parts = []
    for lo in range(0, 60_000, 7_000):
        p = TupleSketch(k=1024)
        p.update_batch(hash_longs(keys[lo:lo + 7_000]),
                       vals[lo:lo + 7_000])
        parts.append(p)
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.merge(p)
    assert merged.estimate() == one.estimate()
    assert merged.rows_estimate() == one.rows_estimate()
    assert merged.sum_estimate() == pytest.approx(one.sum_estimate())
    rev = parts[-1]
    for p in parts[-2::-1]:
        rev = rev.merge(p)
    assert rev.estimate() == merged.estimate()


def test_saturation_estimates_within_kmv_envelope():
    n = 200_000
    sk = TupleSketch(k=4096)
    sk.update_batch(hash_longs(np.arange(n)), np.full(n, 2.0))
    assert not sk.is_exact()
    rse = 1.0 / np.sqrt(4096 - 2)
    assert abs(sk.estimate() - n) / n < 4 * rse
    assert abs(sk.sum_estimate() - 2.0 * n) / (2.0 * n) < 4 * rse
    keys, total = sk.segment_estimate(1)
    assert keys == sk.estimate()
    assert total == sk.sum_estimate()


def test_serde_roundtrip_and_refusals():
    sk = TupleSketch(k=64)
    sk.update_batch(hash_strings(np.array(["a", "b", "a"], object)),
                    np.array([1.0, 2.0, 3.0]))
    back = deserialize_any(sk.serialize())
    assert isinstance(back, TupleSketch)
    assert back.estimate() == 2
    assert back.sum_estimate() == 6.0
    assert back.segment_estimate(2) == (1, 4.0)  # "a": 2 rows, 4.0
    with pytest.raises(ValueError, match="tuple"):
        from datasketches_spark_spark.sketches import ThetaSketch
        sk.merge(ThetaSketch(k=64))
    with pytest.raises(ValueError):
        TupleSketch.deserialize(b"junkjunkjunk")
    with pytest.raises(ValueError):
        TupleSketch(k=4)


# ------------------------------------------------------------ spark surface

def test_dataframe_and_sql_surfaces_match_truth(spark):
    import datasketches_spark_spark as dss
    from datasketches_spark_spark import functions as dsf
    dss.install(spark)
    df = spark.range(0, 8000).selectExpr(
        "id % 4 AS g", "id % 60 AS u",
        "CAST(id % 9 AS DOUBLE) AS v")
    df.createOrReplaceTempView("_tuple_t")
    got = (df.groupBy("g")
           .agg(dsf.approx_tuple_accumulate("u", "v").alias("st"))
           .select("g", dsf.approx_tuple_estimate("st").alias("e"),
                   dsf.approx_tuple_segment_estimate("st", 34).alias("s"))
           .orderBy("g").collect())
    truth = spark.sql("""
        WITH pk AS (SELECT g, u, count(*) c, sum(v) s FROM _tuple_t
                    GROUP BY 1, 2)
        SELECT g, count(*) ndv, sum(c) n_rows, sum(s) vsum,
               count(CASE WHEN c >= 34 THEN 1 END) seg_k,
               COALESCE(sum(CASE WHEN c >= 34 THEN s END), 0) seg_s
        FROM pk GROUP BY g ORDER BY g""").collect()
    for g, t in zip(got, truth):
        assert (g.e.ndv, g.e.rows, g.e.value_sum) == \
            (t.ndv, t.n_rows, float(t.vsum))
        assert (g.s.keys, g.s.value_sum) == (t.seg_k, float(t.seg_s))
    # registered SQL surface agrees
    r = spark.sql("""
        SELECT g, approx_tuple_estimate(
            approx_tuple_accumulate(u, v)) AS e
        FROM _tuple_t GROUP BY g ORDER BY g""").collect()
    for a, b in zip(r, got):
        assert a.e == b.e


def test_dss_sql_two_phase_plan_and_combine(spark, exchange_merge):
    """The tuple family rides the dss.sql rewrite: nested
    estimate(accumulate(k, v)) re-plans two-phase (MapInPandas below the
    exchange), and estimate(combine(state)) works over a summary view."""
    import re
    import warnings as w
    import datasketches_spark_spark as dss
    from datasketches_spark_spark.sql import SketchSqlFallbackWarning
    dss.install(spark)
    spark.range(0, 6000).selectExpr(
        "id % 3 AS g", "id % 45 AS u", "CAST(id % 5 AS DOUBLE) AS v") \
        .createOrReplaceTempView("_tuple_t2")
    with w.catch_warnings():
        w.simplefilter("error", SketchSqlFallbackWarning)
        df = dss.sql(spark, (
            "SELECT g, approx_tuple_estimate("
            "approx_tuple_accumulate(u, v)) AS e "
            "FROM _tuple_t2 GROUP BY g ORDER BY g"))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    mp = [int(m) for m in re.findall(r"MapInPandas \((\d+)\)", plan)]
    ex = [int(m) for m in re.findall(r"Exchange \((\d+)\)", plan)]
    assert mp and ex and min(mp) < min(ex), plan
    rows = df.collect()
    # u = id%45 with g = id%3: residues of u within a g class are the
    # 15 values congruent to g mod 3
    assert [r.e.ndv for r in rows] == [15, 15, 15]
    dss.sql(spark, (
        "SELECT g, approx_tuple_accumulate(u, v) AS st "
        "FROM _tuple_t2 GROUP BY g")).createOrReplaceTempView("_tuple_s")
    with w.catch_warnings():
        w.simplefilter("error", SketchSqlFallbackWarning)
        (tot,) = dss.sql(spark, (
            "SELECT approx_tuple_estimate("
            "approx_tuple_combine(st)) AS e FROM _tuple_s")).collect()
    assert tot.e.ndv == 45 and tot.e.rows == 6000
    spark.catalog.dropTempView("_tuple_s")


def test_null_semantics(spark):
    """Null keys drop; null values count their row at 0.0."""
    import datasketches_spark_spark as dss
    from datasketches_spark_spark import functions as dsf
    dss.install(spark)
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), (None, 9.0), ("b", 2.0)],
        "k string, v double")
    (r,) = df.agg(dsf.approx_tuple_estimate(
        dsf.approx_tuple_accumulate("k", "v")).alias("e")).collect()
    assert r.e.ndv == 2 and r.e.rows == 3 and r.e.value_sum == 3.0


def test_segment_min_sum_filter(spark):
    """The value-weighted segment form: per-key sum threshold composes
    with the count threshold, exactly in the exact regime."""
    import datasketches_spark_spark as dss
    from datasketches_spark_spark import functions as dsf
    dss.install(spark)
    df = spark.range(0, 3000).selectExpr(
        "id % 30 AS u", "CAST(id % 11 AS DOUBLE) AS v")
    (r,) = df.agg(dsf.approx_tuple_segment_estimate(
        dsf.approx_tuple_accumulate("u", "v"), 90, 500.0).alias("s")) \
        .collect()
    truth = spark.sql("""
        WITH pk AS (SELECT id % 30 u, count(*) c, sum(CAST(id % 11 AS
                    DOUBLE)) s FROM range(0, 3000) GROUP BY 1)
        SELECT count(CASE WHEN c >= 90 AND s >= 500.0 THEN 1 END) k,
               COALESCE(sum(CASE WHEN c >= 90 AND s >= 500.0 THEN s END),
                        0) t
        FROM pk""").collect()[0]
    assert (r.s.keys, r.s.value_sum) == (truth.k, float(truth.t))
    assert 0 < truth.k < 30  # the threshold genuinely splits the keys


def test_tuple_bounds_exact_and_saturated(spark):
    """approx_tuple_bounds: exact-regime interval collapses to the exact
    NDV; at saturation it is non-degenerate, contains the true NDV at
    3 sigma (KMV envelope on a fixed seed-free hash — deterministic),
    and shares the Theta family's kernel semantics."""
    import datasketches_spark_spark as dss
    from datasketches_spark_spark import functions as dsf
    dss.install(spark)
    df = spark.range(0, 5000).selectExpr(
        "concat('k', id % 40) AS u", "1.0 AS v")
    (b,) = df.agg(dsf.approx_tuple_bounds(
        dsf.approx_tuple_accumulate("u", "v")).alias("b")).collect()
    assert list(b.b) == [40, 40]
    big = spark.range(0, 20000).selectExpr(
        "concat('k', id) AS u", "1.0 AS v")
    (b3,) = big.agg(dsf.approx_tuple_bounds(
        dsf.approx_tuple_accumulate("u", "v", 256), 3.0)
        .alias("b")).collect()
    lo, hi = b3.b
    assert lo < hi
    assert lo <= 20000 <= hi
    # SQL name registered, same kernel
    df.createOrReplaceTempView("tb_t")
    row = spark.sql("""
        SELECT approx_tuple_bounds(approx_tuple_accumulate(u, v), 2.0)
          AS b FROM tb_t""").collect()[0]
    assert list(row.b) == [40, 40]
