"""Replay of the reference's own end-to-end suite
(``ApproximateQuerySuite.scala``): its literal VALUES queries, its
expected answers.

Quantile expectations use the DataSketches v2 exclusive rank rule the
reference inherits; the engine reproduces them under
``spark.sql.dataSketches.quantiles.rankRule = exclusive`` (the default
``disc`` rule matches SQL ``quantile_disc`` and the driver's DuckDB
oracle instead — see ``sketches/kll.py`` module docstring).

Deliberately NOT replayed:
* ``bit_length(summaries)`` asserts — engine states are this engine's
  wire format (sizes differ by design; export to DataSketches bytes is
  ``compat``'s job and golden-byte-tested there);
* ``approx_pmf_estimate`` over the windowed summary — the reference's
  split points omit ``getMinValue`` (``quantileSketches.scala:100-103``:
  ``(1 until numSplits).map(_ * splitSize)``), so its bins are anchored
  at 0 rather than the min; its expected ``[0.0, 1.0]`` encodes that
  bug. This engine anchors bins at the min (the evident intent), and
  q04's DuckDB oracle pins that behavior;
* the PERCENTILE summary's windowed ``where`` filter — its expected
  rows are timezone-sensitive (session-local ``window()`` boundaries vs
  string timestamp comparison); the freq-items twin of that test IS
  replayed by pinning the session to the reference suite's
  America/Los_Angeles default (``TestMergeableFreqItemsSummaryReplay``).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import datasketches_spark_spark as dss
from datasketches_spark_spark import conf as dconf


@pytest.fixture()
def exclusive_rule(spark):
    spark.conf.set(dconf.QUANTILE_RANK_RULE_KEY, "exclusive")
    dss.install(spark)
    yield spark
    spark.conf.unset(dconf.QUANTILE_RANK_RULE_KEY)
    dss.install(spark)


class TestApproximateQuerySuiteReplay:
    # ApproximateQuerySuite.scala:32-49
    @pytest.mark.parametrize("impl", ["KLL", "REQ"])
    def test_percentile_values(self, exclusive_rule, impl):
        spark = exclusive_rule
        spark.conf.set(dconf.QUANTILE_IMPL_KEY, impl)
        dss.install(spark)
        try:
            (r1,) = spark.sql(
                "SELECT approx_percentile_ex_array(c, array(0.5, 0.4, 0.1)) "
                "AS q FROM VALUES (0), (1), (2), (null), (10) AS t(c)"
            ).collect()
            assert r1["q"] == [2.0, 1.0, 0.0]
            (r2,) = spark.sql(
                "SELECT approx_percentile_ex(c, 0.5) AS q "
                "FROM VALUES (0), (6), (7), (null), (9), (10) AS t(c)"
            ).collect()
            assert r2["q"] == 7.0
        finally:
            spark.conf.unset(dconf.QUANTILE_IMPL_KEY)
            dss.install(spark)

    # ApproximateQuerySuite.scala:86-103 (KLL/REQ/MERGEABLE same answer)
    def test_percentile_all_impls(self, exclusive_rule):
        spark = exclusive_rule
        for fn in ("approx_percentile_kll", "approx_percentile_req",
                   "approx_percentile_mergeable"):
            (row,) = spark.sql(
                f"SELECT {fn}(c, 0.5) AS q "
                "FROM VALUES (0), (1), (2), (null), (10) AS t(c)").collect()
            assert row["q"] == 2.0, fn

    # ApproximateQuerySuite.scala:105-147 — the summary workflow on the
    # same VALUES, minus the timezone-sensitive window filter: accumulate
    # per date, combine all, estimate. Expected answers recomputed under
    # the exclusive rule over the full 10-value stream.
    def test_mergeable_percentile_summary_workflow(self, exclusive_rule):
        spark = exclusive_rule
        spark.conf.set(dconf.QUANTILE_IMPL_KEY, "MERGEABLE")
        dss.install(spark)
        try:
            spark.sql("""
                CREATE OR REPLACE TEMPORARY VIEW ref_t AS SELECT * FROM VALUES
                  (date("2021-01-01"), 1.0), (date("2021-01-01"), 1.0),
                  (date("2021-01-01"), 2.0), (date("2021-01-02"), 3.0),
                  (date("2021-01-02"), 2.0), (date("2021-01-02"), 1.0),
                  (date("2021-01-02"), null), (date("2021-01-03"), 3.0),
                  (date("2021-01-03"), 3.0), (date("2021-01-03"), 2.0),
                  (date("2021-01-04"), 1.0)
                AS t(date, v)""")
            (row,) = spark.sql("""
                SELECT approx_percentile_estimate(merged, 0.95) AS p95,
                       approx_percentile_estimate_array(
                           merged, array(0.05, 0.50, 0.95)) AS qs
                FROM (SELECT approx_percentile_combine(st) AS merged
                      FROM (SELECT date, approx_percentile_accumulate(v) AS st
                            FROM ref_t GROUP BY date))""").collect()
            # stream = {1.0 x4, 2.0 x3, 3.0 x3}, n=10, exclusive rule:
            # floor(p*10) -> p95: idx 9 -> 3.0; p05: idx 0 -> 1.0;
            # p50: idx 5 -> 2.0
            assert row["p95"] == 3.0
            assert row["qs"] == [1.0, 2.0, 3.0]
        finally:
            spark.conf.unset(dconf.QUANTILE_IMPL_KEY)
            dss.install(spark)

    # ApproximateQuerySuite.scala:202-219
    def test_freqitems_values(self, spark):
        dss.install(spark)
        (row,) = spark.sql(
            "SELECT approx_freqitems(c) AS top FROM VALUES "
            "('a'), ('a'), ('b'), (null), ('c'), ('a') AS t(c)").collect()
        # reference expects a:3, c:1, b:1 (its tie order is a hash-map
        # artifact; compare as a multiset)
        assert {(e["item"], e["estimated"]) for e in row["top"]} == {
            ("a", 3), ("b", 1), ("c", 1)}

        (row2,) = spark.sql(
            "SELECT approx_freqitems_long(CAST(c AS LONG)) AS top "
            "FROM VALUES (1), (1), (2), (null), (3), (1) AS t(c)").collect()
        assert {(e["item"], e["estimated"]) for e in row2["top"]} == {
            (1, 3), (2, 1), (3, 1)}

    # ApproximateQuerySuite.scala:262-279
    def test_distinct_count_values(self, spark):
        dss.install(spark)
        for fn in ("approx_count_distinct_ex", "approx_count_distinct_cpc",
                   "approx_count_distinct_theta"):
            (r1,) = spark.sql(
                f"SELECT {fn}(c) AS ndv FROM VALUES "
                "('a'), ('a'), ('b'), (null), ('b'), ('c') AS t(c)").collect()
            assert r1["ndv"] == 3, fn
            for t in ("TINYINT", "SHORT", "INT", "LONG", "STRING"):
                (r2,) = spark.sql(
                    f"SELECT {fn}(CAST(c AS {t})) AS ndv FROM VALUES "
                    "(1), (1), (2), (null), (2), (3) AS t(c)").collect()
                assert r2["ndv"] == 3, (fn, t)

    # ApproximateQuerySuite.scala:281-318 — distinct summary workflow
    def test_mergeable_distinct_summary_workflow(self, spark):
        dss.install(spark)
        spark.sql("""
            CREATE OR REPLACE TEMPORARY VIEW ref_d AS SELECT * FROM VALUES
              (date("2021-01-01"), 'a'), (date("2021-01-01"), 'a'),
              (date("2021-01-01"), 'a'), (date("2021-01-02"), 'b'),
              (date("2021-01-02"), 'a'), (date("2021-01-02"), 'b'),
              (date("2021-01-02"), null), (date("2021-01-03"), 'b'),
              (date("2021-01-03"), 'a'), (date("2021-01-03"), 'c'),
              (date("2021-01-04"), 'a')
            AS t(date, v)""")
        (row,) = spark.sql("""
            SELECT approx_count_distinct_estimate(
                     approx_count_distinct_combine(st)) AS ndv
            FROM (SELECT date, approx_count_distinct_accumulate(v) AS st
                  FROM ref_d GROUP BY date)""").collect()
        assert row["ndv"] == 3

    # default rule stays disc: the same literal query answers like
    # quantile_disc (the oracle contract), NOT like the reference
    def test_disc_rule_default_differs_documentedly(self, spark):
        dss.install(spark)
        (row,) = spark.sql(
            "SELECT approx_percentile_ex(c, 0.5) AS q "
            "FROM VALUES (0), (1), (2), (null), (10) AS t(c)").collect()
        assert row["q"] == 1.0  # rank max(ceil(0.5*4),1)=2 -> sorted[2nd]


class TestQuantileTypeMatrix:
    """Reference type-preservation matrix (``ApproximateQuerySuite.scala:
    52-65``): the direct percentile aggregate returns the *input* column
    type, incl. Decimal via precision-checked convert
    (``quantileSketches.scala:196-211``), while estimate-from-state stays
    double (``:321-340`` asserts it ignores the input type)."""

    TYPES = [("tinyint", "tinyint"), ("int", "int"), ("long", "bigint"),
             ("float", "float"), ("double", "double"),
             ("decimal(10,0)", "decimal(10,0)")]

    def test_dataframe_api_keeps_input_type(self, spark):
        from datasketches_spark_spark import functions as dsf
        df = spark.createDataFrame([(0,), (None,)], "c int")
        for cast_to, expect in self.TYPES:
            out = df.agg(dsf.approx_percentile_ex(
                df["c"].cast(cast_to), 0.5).alias("q"))
            assert out.schema["q"].dataType.simpleString() == expect, cast_to
            (row,) = out.collect()
            assert float(row["q"]) == 0.0, cast_to

    def test_dataframe_api_array_keeps_input_type(self, spark):
        from datasketches_spark_spark import functions as dsf
        df = spark.createDataFrame([(0,), (1,), (2,), (None,), (10,)],
                                   "c int")
        out = df.agg(dsf.approx_percentile_kll(
            df["c"].cast("int"), [0.1, 0.5]).alias("q"))
        assert out.schema["q"].dataType.simpleString() == "array<int>"
        (row,) = out.collect()
        assert all(isinstance(v, int) for v in row["q"])

    def test_unbound_column_stays_double(self, spark):
        # F.col / string names cannot be resolved Python-side: double out,
        # which keeps every existing query's schema stable.
        from pyspark.sql import functions as F
        from datasketches_spark_spark import functions as dsf
        df = spark.createDataFrame([(1,)], "c int")
        for col in ("c", F.col("c")):
            out = df.agg(dsf.approx_percentile_ex(col, 0.5).alias("q"))
            assert out.schema["q"].dataType.simpleString() == "double"

    def test_dss_sql_keeps_input_type(self, spark):
        import datasketches_spark_spark as dss
        spark.createDataFrame([(0,), (None,)], "c int") \
            .createOrReplaceTempView("tm_t")
        for cast_to, expect in self.TYPES:
            out = dss.sql(spark, (
                f"SELECT approx_percentile_ex(CAST(c AS {cast_to}), 0.5) "
                "AS q FROM tm_t"))
            assert out.schema["q"].dataType.simpleString() == expect, cast_to
            (row,) = out.collect()
            assert float(row["q"]) == 0.0, cast_to

    def test_decimal_precision_check_raises(self, spark):
        # quantileSketches.scala:203-210: an estimate that cannot change
        # precision to (p, s) raises instead of silently nulling.
        import pytest
        from pyspark.sql import functions as F
        from datasketches_spark_spark.functions.quantiles import (
            preserve_output_type)
        df = spark.range(1)
        ok = df.select(preserve_output_type(
            F.lit(42.0), "decimal(4,1)", False).alias("v")).collect()
        assert str(ok[0]["v"]) == "42.0"
        # Under ANSI (Spark 4 default) the decimal cast itself throws
        # NUMERIC_VALUE_OUT_OF_RANGE; under non-ANSI it nulls and the
        # engine's explicit guard raises. Either way: an error, not NULL.
        with pytest.raises(
                Exception,
                match="cannot change precision|cannot be represented"):
            df.select(preserve_output_type(
                F.lit(12345.0), "decimal(2,0)", False)).collect()

    def test_estimate_from_state_ignores_input_type(self, spark):
        # ApproximateQuerySuite.scala:321-340
        dss_install(spark)
        for cast_to, _ in self.TYPES:
            out = spark.sql(
                "SELECT approx_percentile_estimate(s, 0.5) AS q FROM ("
                f"SELECT approx_percentile_accumulate(CAST(c AS {cast_to}))"
                " AS s FROM VALUES (0), (null) AS t(c))")
            assert out.schema["q"].dataType.simpleString() == "double"
            (row,) = out.collect()
            assert row["q"] == 0.0, cast_to


def dss_install(spark):
    import datasketches_spark_spark as dss
    dss.install(spark)


class TestBareSqlHllReplay:
    """ApproximateQuerySuite runs approx_count_distinct_hll through plain
    spark.sql; replay its GROUP BY shape on a literal VALUES table."""

    def test_hll_group_by_values(self, spark):
        dss_install(spark)
        rows = spark.sql(
            "SELECT g, approx_count_distinct_hll(v) AS ndv FROM VALUES "
            "('a', 1), ('a', 2), ('a', 2), ('b', 1), ('b', 3), ('b', 4) "
            "AS t(g, v) GROUP BY g ORDER BY g").collect()
        assert [(r.g, r.ndv) for r in rows] == [("a", 2), ("b", 3)]


class TestErrorHandlingReplay:
    """Replays of the reference's three error-handling suites
    (ApproximateQuerySuite.scala:67-84, :149-178, :180-200). The engine
    raises at EXECUTION time (a Python UDF registry has no analysis
    hook — documented divergence, functions/udfs.py::_named) with
    the reference's message substrings; the dangerous case the runtime
    CAN catch that an analyzer can't even express — a percentage that
    varies WITHIN an aggregation group, which the old first-row read
    would have silently mis-answered — raises too."""

    def _err(self, spark, sql):
        with pytest.raises(Exception) as ei:
            spark.sql(sql).collect()
        return str(ei.value)

    def test_percentile_ex_error_handling(self, spark):
        dss_install(spark)
        # reference errMsg1: non-constant percentage
        assert "must be a constant literal" in self._err(
            spark, "SELECT approx_percentile_ex(c, p) FROM VALUES "
                   "(0, 0.95), (1, 0.5) AS t(c, p)")
        # reference errMsg2: null percentage
        assert "must not be null" in self._err(
            spark, "SELECT approx_percentile_ex(c, null) "
                   "FROM VALUES (0) AS t(c)")
        # reference errMsg3: out-of-range percentage
        assert "must be between 0.0 and 1.0" in self._err(
            spark, "SELECT approx_percentile_ex(c, -1.0) "
                   "FROM VALUES (0) AS t(c)")
        assert "must be between 0.0 and 1.0" in self._err(
            spark, "SELECT approx_percentile_ex_array(c, array(0.1, -1.0)) "
                   "FROM VALUES (0) AS t(c)")
        # engine-specific: array under the scalar name redirects instead
        # of a raw TypeError (the reference overloads one name; a Python
        # UDF registration cannot)
        assert "use approx_percentile_ex_array" in self._err(
            spark, "SELECT approx_percentile_ex(c, array(0.1, 0.9)) "
                   "FROM VALUES (0) AS t(c)")

    def test_percentile_estimate_error_handling(self, spark):
        dss_install(spark)
        assert "must not be null" in self._err(
            spark, "SELECT approx_percentile_estimate(s, null) "
                   "FROM VALUES (binary('abc')) AS t(s)")
        assert "must be between 0.0 and 1.0" in self._err(
            spark, "SELECT approx_percentile_estimate(s, -1.0) "
                   "FROM VALUES (binary('abc')) AS t(s)")
        assert "must be between 0.0 and 1.0" in self._err(
            spark, "SELECT approx_percentile_estimate_array(s, "
                   "array(0.1, -1.0)) FROM VALUES (binary('abc')) AS t(s)")

    def test_pmf_estimate_error_handling(self, spark):
        dss_install(spark)
        for bad in ("null", "-1", "0", "1"):
            assert "must be greater than 1" in self._err(
                spark, f"SELECT approx_pmf_estimate(s, {bad}) "
                       f"FROM VALUES (binary('abc')) AS t(s)"), bad


class TestMergeableFreqItemsSummaryReplay:
    """ApproximateQuerySuite.scala:222-260 — per-day window accumulate,
    range filter, combine, estimate. The reference pins bit_length of
    its DataSketches states (360/464/568); engine states are a different
    (versioned) format, so the structural assertions here are schema +
    binary-typed states + the exact merged counts."""

    def test_windowed_accumulate_combine_estimate(self, spark):
        # The reference suite runs under Spark's test-default session
        # timezone (America/Los_Angeles), where epoch-aligned 1-day
        # windows start at 16:00 local — its where-filter expectations
        # (a:2, not a:5) encode exactly that offset. Reproduce the
        # environment, then assert its exact answer.
        dss_install(spark)
        prev_tz = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone",
                       "America/Los_Angeles")
        try:
            self._run(spark)
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev_tz)

    def _run(self, spark):
        spark.sql("""
            CREATE OR REPLACE TEMPORARY VIEW t AS SELECT * FROM VALUES
              (date('2021-01-01'), 'a'), (date('2021-01-01'), 'a'),
              (date('2021-01-01'), 'a'), (date('2021-01-02'), 'b'),
              (date('2021-01-02'), 'a'), (date('2021-01-02'), 'b'),
              (date('2021-01-02'), null), (date('2021-01-03'), 'b'),
              (date('2021-01-03'), 'a'), (date('2021-01-03'), 'c'),
              (date('2021-01-04'), 'a')
            AS t(date, v)""")
        summaries = (spark.table("t")
                     .groupBy(F.window("date", "1 day"))
                     .agg(F.expr("approx_freqitems_accumulate(v)")
                           .alias("summaries")))
        ddl = summaries.schema.toDDL()
        assert "window STRUCT<start: TIMESTAMP, end: TIMESTAMP>" in ddl
        assert "summaries BINARY" in ddl
        assert summaries.count() == 4
        assert all(r.summaries is not None for r in summaries.collect())
        merged = (summaries
                  .where("window.start >= '2021-01-01' "
                         "AND window.end <= '2021-01-04'")
                  .selectExpr("approx_freqitems_combine(summaries) "
                              "AS merged"))
        (row,) = (merged.selectExpr("approx_freqitems_estimate(merged) "
                                    "AS top").collect())
        assert {(e["item"], e["estimated"]) for e in row["top"]} == {
            ("b", 3), ("a", 2), ("c", 1)}

    def test_integral_types_loop(self, spark):
        # ApproximateQuerySuite.scala:211-220 runs the same name over
        # TINYINT/SHORT/INT/LONG casts; the engine's bare-SQL surface
        # splits string/long into two names (documented divergence), and
        # _long coerces every integral width like the reference's
        # ImplicitCastInputTypes
        dss_install(spark)
        for t in ("TINYINT", "SHORT", "INT", "LONG"):
            (row,) = spark.sql(
                f"SELECT approx_freqitems_long(CAST(c AS {t})) AS top "
                f"FROM VALUES (1), (1), (2), (null), (3), (1) AS t(c)"
            ).collect()
            assert {(e["item"], e["estimated"]) for e in row["top"]} == {
                (1, 3), (2, 1), (3, 1)}, t
