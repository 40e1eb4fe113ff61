"""dss.sql — the two-phase SQL front-end (datasketches_spark_spark/sql.py).

Covers: rewrite correctness vs the registered-UDF path and vs exact SQL,
two-phase physics in the plan (MapInPandas before the exchange), mixed
native + sketch aggregates (inexpressible via plain spark.sql), CTE/WHERE
passthrough, eager literal validation, and verbatim fallback.
"""

import pytest
from pyspark.sql import functions as F

import datasketches_spark_spark as dss
from datasketches_spark_spark.sql import (
    _find_clauses,
    _parse_call,
    _split_alias,
    _split_top,
    _strip_comments,
)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module", autouse=True)
def _installed(spark, tables):
    dss.install(spark)


# ----------------------------------------------------------------- parser

def test_clause_split_respects_nesting():
    c = _find_clauses(
        "SELECT a, f(x) FROM t JOIN (SELECT * FROM u WHERE z GROUP BY g) s "
        "ON t.k = s.k WHERE substring(a FROM 1) = 'x' GROUP BY a "
        "ORDER BY a LIMIT 5")
    assert c["from"].startswith("t JOIN")
    assert "GROUP BY g" in c["from"]
    assert c["where"] == "substring(a FROM 1) = 'x'"
    assert c["group"] == "a"
    assert c["limit"] == "5"


def test_split_top_and_alias():
    assert _split_top("a, f(x, y), 'p,q'") == ["a", "f(x, y)", "'p,q'"]
    assert _split_alias("CAST(x AS INT) AS y") == ("CAST(x AS INT)", "y")
    assert _split_alias("sum(x)") == ("sum(x)", None)


def test_parse_call_rejects_compound():
    assert _parse_call("f(x) + g(y)") is None
    assert _parse_call("approx_freqitems(concat(a, 'x'))") == (
        "approx_freqitems", "concat(a, 'x')")


def test_strip_comments_keeps_strings():
    q = "SELECT '--not a comment' AS s -- real\nFROM t /* gone */ WHERE 1=1"
    out = _strip_comments(q)
    assert "--not a comment" in out and "real" not in out and "gone" not in out


# ------------------------------------------------------------- execution

def test_rewrite_matches_registered_udf_path(spark):
    q = ("SELECT l_returnflag, approx_percentile_mergeable(l_quantity, 0.5) "
         "AS p50 FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")
    got = dss.sql(spark, q).collect()
    ref = spark.sql(q).collect()
    assert [r.l_returnflag for r in got] == [r.l_returnflag for r in ref]
    # both run the same sketch in the exact regime at this SF? k differs by
    # phase structure only for MERGEABLE (float64) — values must agree.
    for g, r in zip(got, ref):
        assert g.p50 == pytest.approx(r.p50, rel=1e-6)


def test_rewrite_plan_is_two_phase(spark, exchange_merge):
    df = dss.sql(spark, (
        "SELECT l_returnflag, approx_percentile_ex(l_quantity, 0.9) AS p90 "
        "FROM lineitem GROUP BY l_returnflag"))
    plan = _plan(df)
    assert "MapInPandas" in plan, plan
    # partial sketching must sit BELOW the exchange (raw rows never shuffle):
    # formatted-plan node ids grow from the scan upward, so the MapInPandas
    # id must be smaller than every Exchange id.
    import re
    mp = [int(m) for m in re.findall(r"MapInPandas \((\d+)\)", plan)]
    ex = [int(m) for m in re.findall(r"Exchange \((\d+)\)", plan)]
    assert mp and ex and min(mp) < min(ex), plan


def test_mixed_native_and_sketch_aggregates(spark, tables):
    # plain spark.sql CANNOT run this shape at all
    q = ("SELECT l_returnflag, count(*) AS n, "
         "approx_percentile_ex(l_quantity, 0.5) AS p50 "
         "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")
    with pytest.raises(Exception, match="INVALID_PANDAS_UDF_PLACEMENT"):
        spark.sql(q).collect()
    rows = dss.sql(spark, q).collect()
    exact = {r.l_returnflag: r.n for r in spark.sql(
        "SELECT l_returnflag, count(*) AS n FROM lineitem "
        "GROUP BY l_returnflag").collect()}
    assert {r.l_returnflag: r.n for r in rows} == exact
    assert all(r.p50 is not None for r in rows)


def test_having_and_order_by_aggregate_text(spark):
    q = ("SELECT l_returnflag, count(*) AS n, "
         "approx_percentile_ex(l_quantity, 0.5) AS p50 FROM lineitem "
         "GROUP BY l_returnflag HAVING count(*) > 0 ORDER BY count(*) DESC")
    rows = dss.sql(spark, q).collect()
    assert len(rows) == 3
    assert [r.n for r in rows] == sorted([r.n for r in rows], reverse=True)


def test_order_by_ordinal(spark):
    """ORDER BY 1 resolves positionally like spark.sql
    (spark.sql.orderByOrdinal), not as a constant sort key (ADVICE r3)."""
    q = ("SELECT l_returnflag, approx_percentile_ex(l_quantity, 0.5) AS p50 "
         "FROM lineitem GROUP BY l_returnflag ORDER BY 1 DESC")
    rows = dss.sql(spark, q).collect()
    flags = [r.l_returnflag for r in rows]
    assert flags == sorted(flags, reverse=True)
    # ordinal on the aggregate column too
    q2 = ("SELECT l_returnflag, count(*) AS n, "
          "approx_percentile_ex(l_quantity, 0.5) AS p50 FROM lineitem "
          "GROUP BY l_returnflag ORDER BY 2 DESC")
    rows2 = dss.sql(spark, q2).collect()
    assert [r.n for r in rows2] == sorted([r.n for r in rows2], reverse=True)
    # out-of-range ordinal falls back to spark.sql, which raises its own
    # analysis error — either way the user sees an error, never silence
    with pytest.raises(Exception):
        dss.sql(spark, ("SELECT l_returnflag FROM lineitem "
                        "GROUP BY l_returnflag ORDER BY 9")).collect()


def test_cte_where_and_expression_key(spark):
    q = ("WITH t AS (SELECT * FROM lineitem WHERE l_quantity > 10) "
         "SELECT upper(l_returnflag) AS flag, "
         "approx_count_distinct_ex(l_partkey) AS ndv "
         "FROM t GROUP BY upper(l_returnflag) ORDER BY flag")
    rows = dss.sql(spark, q).collect()
    assert [r.flag for r in rows] == ["A", "N", "R"]
    assert all(r.ndv > 0 for r in rows)


def test_global_aggregate_no_group_by(spark):
    got = dss.sql(spark, (
        "SELECT approx_count_distinct_ex(l_partkey) AS ndv, count(*) AS n "
        "FROM lineitem")).collect()[0]
    exact = spark.sql("SELECT count(DISTINCT l_partkey) AS ndv, count(*) AS n "
                      "FROM lineitem").collect()[0]
    assert got.n == exact.n
    assert got.ndv == exact.ndv  # exact regime below k


def test_accumulate_states_compatible_with_estimate(spark):
    dss.sql(spark, (
        "SELECT l_returnflag, approx_percentile_accumulate(l_quantity) AS st "
        "FROM lineitem GROUP BY l_returnflag")).createOrReplaceTempView("_states")
    rows = spark.sql(
        "SELECT l_returnflag, approx_percentile_estimate(st, 0.5) AS p50 "
        "FROM _states ORDER BY l_returnflag").collect()
    assert len(rows) == 3 and all(r.p50 is not None for r in rows)


def test_nested_estimate_accumulate_replans_two_phase(spark, exchange_merge):
    """estimate(accumulate(col)) IS the direct-aggregate shape plus a
    scalar decode — it must re-plan (MapInPandas below the exchange), not
    warn onto the raw-row UDF fallback, and match that fallback's values
    bit-for-bit (same sketch kernel both sides)."""
    import re
    import warnings as w
    from datasketches_spark_spark.sql import SketchSqlFallbackWarning
    q = ("SELECT l_returnflag, approx_count_distinct_estimate("
         "approx_count_distinct_accumulate_cpc(l_partkey)) AS ndv "
         "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")
    with w.catch_warnings():
        w.simplefilter("error", SketchSqlFallbackWarning)
        df = dss.sql(spark, q)
    plan = _plan(df)
    mp = [int(m) for m in re.findall(r"MapInPandas \((\d+)\)", plan)]
    ex = [int(m) for m in re.findall(r"Exchange \((\d+)\)", plan)]
    assert mp and ex and min(mp) < min(ex), plan
    assert [tuple(r) for r in df.collect()] \
        == [tuple(r) for r in spark.sql(q).collect()]


def test_nested_estimate_accumulate_with_literal_args(spark):
    """Percentile nesting carries the estimate's literal percentage; bad
    literals still raise eagerly, before any job."""
    import warnings as w
    from datasketches_spark_spark.sql import SketchSqlFallbackWarning
    q = ("SELECT l_returnflag, approx_percentile_estimate("
         "approx_percentile_accumulate(l_quantity), 0.5) AS p50 "
         "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")
    with w.catch_warnings():
        w.simplefilter("error", SketchSqlFallbackWarning)
        got = dss.sql(spark, q).collect()
    ref = spark.sql(q).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]
    with pytest.raises(ValueError, match="percentage"):
        dss.sql(spark, (
            "SELECT approx_percentile_estimate("
            "approx_percentile_accumulate(l_quantity), 1.5) AS p "
            "FROM lineitem"))


def test_nested_estimate_combine_replans_two_phase(spark, exchange_merge,
                                                   tmp_path):
    """estimate(combine(state)) over a summary table: the input states go
    straight into the merge fold (no map-side Python pass below the
    exchange), which emits the scalar decode — and a bare combine select
    item re-plans the same way."""
    import re
    import warnings as w
    from datasketches_spark_spark.sql import SketchSqlFallbackWarning
    # a stored summary table: its scan is a leaf of the combine's plan
    dss.sql(spark, (
        "SELECT l_returnflag, l_linestatus, "
        "approx_percentile_accumulate(l_quantity) AS st "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus")) \
        .write.parquet(str(tmp_path / "states"))
    spark.read.parquet(str(tmp_path / "states")) \
        .createOrReplaceTempView("_nested_states")
    q = ("SELECT l_returnflag, approx_percentile_estimate_array("
         "approx_percentile_combine(st), array(0.25, 0.75)) AS qs "
         "FROM _nested_states GROUP BY l_returnflag ORDER BY l_returnflag")
    with w.catch_warnings():
        w.simplefilter("error", SketchSqlFallbackWarning)
        df = dss.sql(spark, q)
    plan = _plan(df)
    mp = [int(m) for m in re.findall(r"MapInPandas \((\d+)\)", plan)]
    ex = [int(m) for m in re.findall(r"Exchange \((\d+)\)", plan)]
    # one Python pass, the fold, above the merge exchange: nothing below
    assert len(mp) == 1 and ex and min(ex) < mp[0], plan
    got = df.collect()
    ref = spark.sql(q).collect()
    assert [r.l_returnflag for r in got] == [r.l_returnflag for r in ref]
    for g, r in zip(got, ref):
        assert list(g.qs) == pytest.approx(list(r.qs), rel=1e-9)
    # bare combine as a select item re-plans too (returns merged state)
    with w.catch_warnings():
        w.simplefilter("error", SketchSqlFallbackWarning)
        rows = dss.sql(spark, (
            "SELECT approx_percentile_combine(st) AS st "
            "FROM _nested_states")).collect()
    assert len(rows) == 1 and rows[0].st is not None
    spark.catalog.dropTempView("_nested_states")


@pytest.fixture
def combine_input(spark, tmp_path):
    """``_combine_input``, a stored table of (l_returnflag, l_linestatus,
    l_linenumber) rows with a quantile state ``st`` of l_extendedprice,
    null for line 1, and a raw double ``v``, null for line 2."""
    path = str(tmp_path / "combine_input")
    dss.sql(spark, (
        "SELECT l_returnflag, l_linestatus, l_linenumber, "
        "approx_percentile_accumulate(l_extendedprice) AS st "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus, l_linenumber")) \
        .selectExpr(
            "l_returnflag", "l_linestatus",
            "CASE WHEN l_linenumber = 1 THEN NULL ELSE st END AS st",
            "CASE WHEN l_linenumber = 2 THEN NULL "
            "ELSE l_linenumber * 1.5 END AS v") \
        .write.parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("_combine_input")
    yield "_combine_input"
    spark.catalog.dropTempView("_combine_input")


@pytest.mark.parametrize("plan", ["exchange", "single_task"])
def test_combine_only_block_runs_one_python_pass(spark, merge_plan,
                                                 combine_input, plan):
    """A block of *_combine measures only, bare and nested, runs the merge
    fold as its one MapInPandas under both merge plans."""
    import re
    q = ("SELECT l_returnflag, approx_percentile_combine(st) AS c, "
         "approx_percentile_estimate(approx_percentile_combine(st), 0.5) "
         f"AS p FROM {combine_input} GROUP BY l_returnflag")
    with merge_plan(plan):
        df = dss.sql(spark, q)
    assert len(re.findall(r"MapInPandas \(\d+\)", _plan(df))) == 1
    ref = {r.l_returnflag: r.p for r in spark.sql(q).collect()}
    assert {r.l_returnflag: r.p for r in df.collect()} == ref


@pytest.mark.parametrize("plan", ["exchange", "single_task"])
def test_global_combine_folds_each_partition_first(spark, merge_plan,
                                                   combine_input, plan):
    """A combine with no GROUP BY: the exchange plan sends every state to
    one task, so the fold also runs below it, once per input partition,
    and the final fold merges those rows; the single-task plan folds
    once."""
    import re
    q = ("SELECT approx_percentile_estimate(approx_percentile_combine(st),"
         f" 0.5) AS p FROM {combine_input}")
    with merge_plan(plan):
        df = dss.sql(spark, q)
    plan_text = _plan(df)
    mp = [int(m) for m in re.findall(r"MapInPandas \((\d+)\)", plan_text)]
    ex = [int(m) for m in re.findall(r"Exchange \((\d+)\)", plan_text)]
    if plan == "exchange":
        assert len(mp) == 2 and len(ex) == 1 and min(mp) < ex[0] < max(mp)
    else:
        assert len(mp) == 1 and not ex, plan_text
    assert df.collect()[0].p == spark.sql(q).collect()[0].p


def test_accumulate_mixed_with_combine_matches_fallback(spark,
                                                        combine_input):
    """One block with a raw-column accumulate and a state-column combine:
    the partial rows and the state rows meet in one fold, and every
    group's states decode to what spark.sql's registered UDFs give."""
    import warnings as w
    from datasketches_spark_spark.sketches import deserialize_any
    from datasketches_spark_spark.sql import SketchSqlFallbackWarning
    q = ("SELECT l_returnflag, approx_percentile_accumulate(v) AS a, "
         "approx_percentile_combine(st) AS c "
         f"FROM {combine_input} GROUP BY l_returnflag "
         "ORDER BY l_returnflag")
    with w.catch_warnings():
        w.simplefilter("error", SketchSqlFallbackWarning)
        got = dss.sql(spark, q).collect()
    ref = spark.sql(q).collect()

    def decoded(blob):
        if blob is None:
            return None
        sk = deserialize_any(bytes(blob))
        return sk.n, sk.quantiles([i / 10 for i in range(11)])

    def rows(rs):
        return [(r.l_returnflag, decoded(r.a), decoded(r.c))
                for r in rs]

    assert rows(got) == rows(ref)
    assert all(r.a is not None and r.c is not None for r in got)


def test_mixed_block_reads_its_base_twice(spark, combine_input):
    """Pins a known cost of the mixed path: the raw measures' partial
    rows and the state rows are two subplans of the block's base, so the
    base is scanned twice (a block of one kind scans it once). A change
    that reads the base once should update this test."""
    import re

    def scans(q):
        return len(re.findall(r"^\(\d+\) Scan parquet", _plan(
            dss.sql(spark, q)), re.M))

    base = f"FROM {combine_input} GROUP BY l_returnflag"
    assert scans("SELECT l_returnflag, approx_percentile_accumulate(v) "
                 f"AS a, approx_percentile_combine(st) AS c {base}") == 2
    assert scans("SELECT l_returnflag, approx_percentile_combine(st) "
                 f"AS c {base}") == 1
    assert scans("SELECT l_returnflag, approx_percentile_accumulate(v) "
                 f"AS a {base}") == 1


def test_hll_name_runs_native_jvm(spark):
    df = dss.sql(spark, (
        "SELECT l_returnflag, approx_count_distinct_hll(l_partkey) AS ndv "
        "FROM lineitem GROUP BY l_returnflag"))
    plan = _plan(df)
    assert "MapInPandas" not in plan          # JVM TypedImperativeAggregate
    assert all(r.ndv > 0 for r in df.collect())


def test_fallback_verbatim(spark):
    assert dss.sql(spark, "SELECT 1 AS one").collect()[0].one == 1
    # estimate-over-state queries are not direct aggregates: fallback path
    df = dss.sql(spark, "SELECT approx_percentile_estimate(NULL, 0.5) AS v")
    assert df.collect()[0].v is None


def test_fallback_warns_when_sketch_aggregates_lose_two_phase(spark):
    """A sketch-bearing query outside the rewrite grammar must warn (it
    silently moves to the raw-row-shuffle UDF path otherwise); rewritten
    queries and sketch-free fallbacks must not."""
    import warnings as w
    from datasketches_spark_spark.sql import SketchSqlFallbackWarning
    # a sketch aggregate nested inside a larger expression is outside the
    # rewrite grammar -> fallback + warning
    with pytest.warns(SketchSqlFallbackWarning):
        dss.sql(spark, (
            "SELECT approx_count_distinct_ex(l_partkey) + 1 AS ndv1 "
            "FROM lineitem"))
    # rewritten single-block query -> no warning
    with w.catch_warnings():
        w.simplefilter("error", SketchSqlFallbackWarning)
        dss.sql(spark, ("SELECT approx_count_distinct_ex(l_partkey) AS ndv "
                        "FROM lineitem"))
    # sketch-free fallback -> no warning either
    with w.catch_warnings():
        w.simplefilter("error", SketchSqlFallbackWarning)
        dss.sql(spark, "SELECT 1 AS one UNION ALL SELECT 2")


# ---------------------------------------------- CTE + UNION ALL rewrites

def test_union_all_of_sketch_blocks_rewrites(spark):
    """Both members get two-phase plans — no fallback warning — and the
    union matches the registered-UDF path run via spark.sql."""
    import warnings as w
    from datasketches_spark_spark.sql import SketchSqlFallbackWarning
    q = ("SELECT 'part' AS what, approx_count_distinct_ex(l_partkey) AS ndv "
         "FROM lineitem "
         "UNION ALL "
         "SELECT 'supp' AS what, approx_count_distinct_ex(l_suppkey) "
         "FROM lineitem "
         "ORDER BY what LIMIT 10")
    with w.catch_warnings():
        w.simplefilter("error", SketchSqlFallbackWarning)
        df = dss.sql(spark, q)
    plan = _plan(df)
    import re
    assert len(re.findall(r"MapInPandas", plan)) >= 2, plan
    got = {(r.what, r.ndv) for r in df.collect()}
    ref = {(r.what, r.ndv) for r in spark.sql(q).collect()}
    assert got == ref and len(got) == 2


def test_setop_chain_intersect_precedence(spark):
    """INTERSECT binds tighter than UNION ALL (SQL precedence); sketch
    members still get the two-phase plan. A UNION ALL (B INTERSECT B)
    == A UNION ALL B for identical deterministic members."""
    import warnings as w
    from datasketches_spark_spark.sql import SketchSqlFallbackWarning
    member = ("SELECT l_returnflag AS k, "
              "approx_count_distinct_ex(l_partkey) AS v "
              "FROM lineitem GROUP BY l_returnflag")
    q = f"{member} UNION ALL {member} INTERSECT {member}"
    with w.catch_warnings():
        w.simplefilter("error", SketchSqlFallbackWarning)
        rows = dss.sql(spark, q).collect()
    ref = spark.sql(q).collect()
    assert sorted((r.k, r.v) for r in rows) == \
        sorted((r.k, r.v) for r in ref)
    assert len(rows) == 6  # 3 + (3 INTERSECT 3)


def test_setop_union_distinct_and_except(spark):
    member = ("SELECT l_returnflag AS k, "
              "approx_count_distinct_ex(l_partkey) AS v "
              "FROM lineitem GROUP BY l_returnflag")
    # UNION (distinct) of two identical members collapses to one copy
    rows = dss.sql(spark, f"{member} UNION {member}").collect()
    assert len(rows) == 3
    # EXCEPT of identical members is empty
    rows = dss.sql(spark, f"{member} EXCEPT {member}").collect()
    assert rows == []


def test_union_all_mixed_sketch_and_plain_members(spark):
    q = ("SELECT l_returnflag AS k, approx_count_distinct_ex(l_partkey) AS v "
         "FROM lineitem GROUP BY l_returnflag "
         "UNION ALL "
         "SELECT 'total' AS k, count(*) AS v FROM lineitem")
    rows = dss.sql(spark, q).collect()
    assert len(rows) == 4
    assert {r.k for r in rows} == {"A", "N", "R", "total"}


def test_cte_with_sketch_aggregate_rewrites(spark):
    """The sketch aggregate lives INSIDE the CTE body; the outer SELECT is
    plain SQL over it. Must rewrite (no fallback warning), match the
    registered-UDF answer, and leave no temp views behind."""
    import warnings as w
    from datasketches_spark_spark.sql import SketchSqlFallbackWarning
    q = ("WITH s AS (SELECT l_returnflag, "
         "approx_percentile_mergeable(l_quantity, 0.5) AS p50 "
         "FROM lineitem GROUP BY l_returnflag) "
         "SELECT l_returnflag, p50 FROM s WHERE p50 > 0 ORDER BY l_returnflag")
    with w.catch_warnings():
        w.simplefilter("error", SketchSqlFallbackWarning)
        df = dss.sql(spark, q)
    plan = _plan(df)
    assert "MapInPandas" in plan, plan
    got = [(r.l_returnflag, r.p50) for r in df.collect()]
    ref = [(r.l_returnflag, r.p50) for r in spark.sql(q).collect()]
    assert [g[0] for g in got] == [r[0] for r in ref]
    for g, r in zip(got, ref):
        assert g[1] == pytest.approx(r[1], rel=1e-6)
    # no view leak
    leftover = [t.name for t in spark.catalog.listTables()
                if t.name.startswith("__dss_cte_")]
    assert leftover == []


def test_cte_reference_with_user_alias(spark):
    """Explicit aliases on sketch-CTE references ('FROM s x', 'FROM s AS
    y') must survive the view substitution."""
    base = ("WITH s AS (SELECT l_returnflag, "
            "approx_count_distinct_ex(l_partkey) AS ndv "
            "FROM lineitem GROUP BY l_returnflag) ")
    for ref in ("s x", "s AS x"):
        rows = dss.sql(spark, base + (
            f"SELECT x.l_returnflag, x.ndv FROM {ref} "
            "ORDER BY x.l_returnflag")).collect()
        assert [r.l_returnflag for r in rows] == ["A", "N", "R"], ref


def test_cte_column_list_renames_sketch_output(spark):
    # the unaliased sketch aggregate gets a generated __dss_{i} internal
    # alias, so the rewrite must succeed — no two-phase fallback allowed
    import warnings
    from datasketches_spark_spark.sql import SketchSqlFallbackWarning
    q = ("WITH s(flag, median_qty) AS ("
         "  SELECT l_returnflag, "
         "  approx_percentile_mergeable(l_quantity, 0.5) "
         "  FROM lineitem GROUP BY l_returnflag) "
         "SELECT flag, median_qty FROM s ORDER BY flag")
    with warnings.catch_warnings():
        warnings.simplefilter("error", SketchSqlFallbackWarning)
        rows = dss.sql(spark, q).collect()
    assert [r.flag for r in rows] == ["A", "N", "R"]
    assert all(r.median_qty is not None for r in rows)
    # arity mismatch -> actionable HARD error (never a silent raw-row
    # fallback: at scale that would quietly lose the two-phase plan)
    with pytest.raises(ValueError, match="CTE column list has 1 names"):
        dss.sql(spark, ("WITH s(one_col) AS (SELECT l_returnflag, "
                        "approx_count_distinct_ex(l_partkey) FROM lineitem "
                        "GROUP BY l_returnflag) SELECT * FROM s")).collect()


def test_cte_qualified_refs_and_join(spark):
    """Qualified column references (s.col) keep resolving because the
    rewritten view is aliased back to the CTE name; plain CTEs coexist."""
    q = ("WITH f AS (SELECT * FROM lineitem WHERE l_quantity > 5), "
         "s AS (SELECT l_returnflag, "
         "approx_count_distinct_ex(l_partkey) AS ndv "
         "FROM f GROUP BY l_returnflag) "
         "SELECT s.l_returnflag, s.ndv FROM s ORDER BY s.l_returnflag")
    rows = dss.sql(spark, q).collect()
    assert [r.l_returnflag for r in rows] == ["A", "N", "R"]
    assert all(r.ndv > 0 for r in rows)


def test_from_subquery_with_sketch_aggregate(spark):
    """The sketch aggregate lives in a FROM-subquery; must rewrite to the
    two-phase plan (no fallback warning) and match the registered path."""
    import warnings as w
    from datasketches_spark_spark.sql import SketchSqlFallbackWarning
    q = ("SELECT l_returnflag, p50 FROM ("
         "  SELECT l_returnflag, "
         "  approx_percentile_mergeable(l_quantity, 0.5) AS p50 "
         "  FROM lineitem GROUP BY l_returnflag"
         ") s WHERE p50 > 0 ORDER BY l_returnflag")
    with w.catch_warnings():
        w.simplefilter("error", SketchSqlFallbackWarning)
        df = dss.sql(spark, q)
    assert "MapInPandas" in _plan(df)
    got = [(r.l_returnflag, r.p50) for r in df.collect()]
    ref = [(r.l_returnflag, r.p50) for r in spark.sql(q).collect()]
    assert [g[0] for g in got] == [r[0] for r in ref]
    for g, r in zip(got, ref):
        assert g[1] == pytest.approx(r[1], rel=1e-6)
    leftover = [t.name for t in spark.catalog.listTables()
                if t.name.startswith("__dss_cte_")]
    assert leftover == []


def test_from_subquery_join_with_plain_side(spark):
    q = ("SELECT n.ndv, m.mx FROM "
         "(SELECT approx_count_distinct_ex(l_partkey) AS ndv "
         " FROM lineitem) n "
         "JOIN (SELECT max(l_quantity) AS mx FROM lineitem) m")
    (row,) = dss.sql(spark, q).collect()
    exact = spark.sql("SELECT count(DISTINCT l_partkey) AS ndv, "
                      "max(l_quantity) AS mx FROM lineitem").collect()[0]
    assert row.ndv == exact.ndv and row.mx == exact.mx


def test_scalar_sketch_subquery_left_alone(spark):
    """A scalar subquery in the select list must NOT be replaced by a
    relation name; the query falls back (with a warning) and still
    computes correctly through the registered-UDF path."""
    from datasketches_spark_spark.sql import SketchSqlFallbackWarning
    q = ("SELECT (SELECT approx_count_distinct_ex(l_partkey) "
         "FROM lineitem) AS ndv, 1 AS one")
    with pytest.warns(SketchSqlFallbackWarning):
        df = dss.sql(spark, q)
    (row,) = df.collect()
    exact = spark.sql(
        "SELECT count(DISTINCT l_partkey) AS n FROM lineitem").collect()[0]
    assert row.ndv == exact.n and row.one == 1


def test_subquery_eager_validation_still_eager(spark):
    with pytest.raises(ValueError, match="approx_percentile_ex"):
        dss.sql(spark, ("SELECT * FROM (SELECT "
                        "approx_percentile_ex(l_quantity, 7.5) AS p "
                        "FROM lineitem) t"))


def test_cte_sketch_body_plus_sketch_final(spark):
    """Sketch aggregates in BOTH a CTE body and the final block."""
    q = ("WITH s AS (SELECT l_returnflag, "
         "approx_percentile_accumulate(l_quantity) AS st "
         "FROM lineitem GROUP BY l_returnflag) "
         "SELECT approx_count_distinct_ex(l_returnflag) AS flags FROM s")
    (row,) = dss.sql(spark, q).collect()
    assert row.flags == 3


def test_eager_validation_before_any_job(spark):
    with pytest.raises(ValueError, match="approx_percentile_ex"):
        dss.sql(spark, ("SELECT approx_percentile_ex(l_quantity, 1.5) "
                        "FROM lineitem"))
    with pytest.raises(ValueError, match="approx_percentile_kll"):
        dss.sql(spark, ("SELECT l_returnflag, "
                        "approx_percentile_kll(l_quantity, array(0.5, -2.0)) "
                        "AS p FROM lineitem GROUP BY l_returnflag"))


def test_multi_percentage_array(spark):
    rows = dss.sql(spark, (
        "SELECT l_returnflag, "
        "approx_percentile_mergeable(l_quantity, array(0.25, 0.75)) AS iqr "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")).collect()
    assert all(len(r.iqr) == 2 and r.iqr[0] <= r.iqr[1] for r in rows)


def test_freqitems_via_sql(spark):
    rows = dss.sql(spark, (
        "SELECT approx_freqitems(l_returnflag) AS top FROM lineitem")).collect()
    items = {e.item for e in rows[0].top}
    assert items == {"A", "N", "R"}


def test_sample_accumulate_mixed_with_native(spark):
    # a shape plain spark.sql rejects (pandas UDAF + JVM aggregate); the
    # rewriter splits it and the reservoir states stay usable downstream
    from datasketches_spark_spark import functions as dsf
    df = dss.sql(spark, (
        "SELECT l_returnflag, count(*) AS n, "
        "approx_sample_accumulate(l_quantity) AS st "
        "FROM lineitem GROUP BY l_returnflag"))
    rows = df.select("l_returnflag", "n",
                     dsf.approx_sample_stream_size("st").alias("seen")) \
             .collect()
    assert len(rows) == 3
    for r in rows:
        assert r.seen == r.n


def test_sample_accumulate_plan_is_two_phase(spark, exchange_merge):
    df = dss.sql(spark, (
        "SELECT l_returnflag, approx_sample_accumulate(l_quantity) AS st "
        "FROM lineitem GROUP BY l_returnflag"))
    plan = _plan(df)
    assert "MapInPandas" in plan, plan
    import re
    mp = [int(m) for m in re.findall(r"MapInPandas \((\d+)\)", plan)]
    ex = [int(m) for m in re.findall(r"Exchange \((\d+)\)", plan)]
    assert mp and ex and min(mp) < min(ex), plan  # partial before shuffle


def test_distinct_accumulate_follows_conf_impl(spark):
    # default conf (CPC) -> engine HLL states; THETA conf -> theta states
    from datasketches_spark_spark.sketches import (
        HllSketch, ThetaSketch, deserialize_any)
    (st,) = dss.sql(spark, (
        "SELECT approx_count_distinct_accumulate(l_partkey) AS st "
        "FROM lineitem")).collect()[0]
    assert isinstance(deserialize_any(bytes(st)), HllSketch)
    spark.conf.set("spark.sql.dataSketches.distinctCnt.sketchImpl", "THETA")
    try:
        (st2,) = dss.sql(spark, (
            "SELECT approx_count_distinct_accumulate(l_partkey) AS st "
            "FROM lineitem")).collect()[0]
        assert isinstance(deserialize_any(bytes(st2)), ThetaSketch)
    finally:
        spark.conf.unset("spark.sql.dataSketches.distinctCnt.sketchImpl")


def test_weighted_sample_accumulate_two_arg_measure(spark):
    from datasketches_spark_spark import functions as dsf
    df = dss.sql(spark, (
        "SELECT l_returnflag, count(*) AS n, "
        "approx_sample_weighted_accumulate_long("
        "  l_orderkey, CAST(l_quantity AS DOUBLE)) AS st "
        "FROM lineitem GROUP BY l_returnflag"))
    plan = _plan(df)
    assert "MapInPandas" in plan
    rows = df.select("l_returnflag", "n",
                     dsf.approx_sample_stream_size("st").alias("seen")) \
             .collect()
    assert len(rows) == 3
    for r in rows:
        assert r.seen == r.n  # all quantities positive -> all rows seen


def test_weighted_sample_accumulate_expression_args(spark):
    df = dss.sql(spark, (
        "SELECT approx_sample_weighted_accumulate("
        "  CAST(l_extendedprice AS DOUBLE), CAST(l_quantity AS DOUBLE) + 1.0"
        ") AS st FROM lineitem"))
    (row,) = df.collect()
    assert row.st is not None


def test_aodwire_accumulate_two_phase_and_estimate(spark, tables):
    """approx_tuple_accumulate_wire re-plans onto the two-phase path
    (no fallback warning) as the 'aodwire' family, and the resulting
    states are genuine family-9 ArrayOfDoubles images the estimate
    decodes to exact (ndv, rows, sum) in this regime."""
    import warnings
    import datasketches_spark_spark as dss
    from datasketches_spark_spark.compat.aod import is_aod
    from datasketches_spark_spark.sql import SketchSqlFallbackWarning
    tables["documents"].createOrReplaceTempView("documents")
    with warnings.catch_warnings():
        warnings.simplefilter("error", SketchSqlFallbackWarning)
        df = dss.sql(spark, """
            WITH s AS (
              SELECT lang, approx_tuple_accumulate_wire(source,
                       CAST(n_chars AS DOUBLE)) AS st
              FROM documents GROUP BY lang
            )
            SELECT lang, approx_tuple_estimate(st) AS e, st
            FROM s ORDER BY lang""")
        rows = df.collect()
    exact = {r.lang: (r.n, r.c, float(r.s)) for r in spark.sql("""
        SELECT lang, count(DISTINCT source) n, count(*) c,
               sum(n_chars) s FROM documents GROUP BY lang""").collect()}
    assert rows
    for r in rows:
        assert (r.e.ndv, r.e.rows, float(r.e.value_sum)) == exact[r.lang]
        assert is_aod(bytes(r.st))


def test_membership_accumulate_two_phase_and_probes(spark, tables):
    """approx_membership_accumulate re-plans onto the two-phase path
    (no fallback warning) as the 'bloom' family; the merged state
    answers contains/estimate/fpp in the same statement, and the
    nested estimate(accumulate(col)) shape re-plans too."""
    import warnings
    import datasketches_spark_spark as dss
    from datasketches_spark_spark.sql import SketchSqlFallbackWarning
    tables["events"].createOrReplaceTempView("events")
    with warnings.catch_warnings():
        warnings.simplefilter("error", SketchSqlFallbackWarning)
        df = dss.sql(spark, """
            WITH s AS (
              SELECT event_type, approx_membership_accumulate(user_id)
                       AS st
              FROM events GROUP BY event_type
            )
            SELECT event_type,
                   approx_membership_contains(st, event_type) AS has_key,
                   approx_membership_estimate(st) AS est,
                   approx_membership_fpp(st) < 0.01 AS tight
            FROM s ORDER BY event_type""")
        rows = df.collect()
    exact = {r.event_type: r.n for r in spark.sql(
        "SELECT event_type, count(DISTINCT user_id) n FROM events "
        "GROUP BY event_type").collect()}
    assert rows and all(not r.has_key for r in rows)  # strings never fed
    for r in rows:
        assert abs(r.est - exact[r.event_type]) <= \
            max(1, 0.1 * exact[r.event_type])
        assert r.tight is True
    # nested shape: estimate(accumulate(...)) as a direct aggregate
    with warnings.catch_warnings():
        warnings.simplefilter("error", SketchSqlFallbackWarning)
        nested = dss.sql(spark, """
            SELECT event_type,
                   approx_membership_estimate(
                     approx_membership_accumulate(user_id)) AS est
            FROM events GROUP BY event_type ORDER BY event_type""")
        for r in nested.collect():
            assert abs(r.est - exact[r.event_type]) <= \
                max(1, 0.1 * exact[r.event_type])
