"""The merge plan a small query takes, and what planning it costs.

``sketch_merge`` folds in one task, with no exchange, when the size
estimate of its input is at most AQE's minimum partition size, so a
re-grouping query over a small rollup runs one job. ``dss.sql`` reads a
``parquet.`<path>``` relation with the Spark schema in its footer, so
planning runs no schema-inference job. Both are checked here on the
shape of perfbench's ``rollup_lifecycle`` queries.
"""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import datasketches_spark_spark as dss
from datasketches_spark_spark.operators.rollup import SketchRollup
from datasketches_spark_spark.sql import _footer_relations
from perfbench import gen, workloads

WHERE = (3, 9)


@pytest.fixture(scope="module")
def rollup(spark, tmp_path_factory):
    dss.install(spark)
    root = tmp_path_factory.mktemp("merge_plans")
    raw = os.path.join(root, "events.parquet")
    pq.write_table(gen.events(gen.SPECS["rollup_lifecycle"], 11), raw)
    r = SketchRollup(str(root / "rollup"), workloads.KEYS,
                     workloads.measures(0.5))
    r.build(spark.read.parquet(raw))
    return r


def _sql(path: str, keys=("tenant",)) -> str:
    return workloads._sql_text(path, list(keys), *WHERE, 0.5)


def _rows(frame):
    return sorted(map(repr, frame.collect()))


def _dss_views(spark):
    return [t.name for t in spark.catalog.listTables()
            if t.name.startswith("__dss_")]


@pytest.mark.parametrize("keys", [["tenant"], []], ids=["tenant", "global"])
def test_rollup_estimate_runs_one_job(spark, rollup, jobs_during, keys):
    def run():
        return rollup.estimate(spark, group_by=keys,
                               where=F.col("day").between(*WHERE)).collect()
    rows, jobs = jobs_during(run)
    assert len(jobs) == 1
    assert len(rows) == (100 if keys else 1)


@pytest.mark.parametrize("keys", [["tenant"], []], ids=["tenant", "global"])
def test_sql_query_runs_one_job(spark, rollup, jobs_during, keys):
    frame, planning = jobs_during(lambda: dss.sql(spark, _sql(rollup.path,
                                                              keys)))
    rows, running = jobs_during(frame.collect)
    assert (len(planning), len(running)) == (0, 1)
    assert _dss_views(spark) == []
    # the rows the inferred-schema relation gives
    spark.read.parquet(rollup.path).createOrReplaceTempView("t_inferred")
    ref = dss.sql(spark, _sql(rollup.path, keys).replace(
        f"parquet.`{rollup.path}`", "t_inferred"))
    assert sorted(map(repr, rows)) == _rows(ref)


def test_sql_relation_without_footer_schema(spark, rollup, tmp_path,
                                            jobs_during):
    """A directory pyarrow wrote keeps today's read, with its inference
    job, and gives the same rows."""
    plain = tmp_path / "plain"
    plain.mkdir()
    table = pq.read_table(rollup.path)
    assert table.schema.metadata   # Spark's footer schema, dropped below
    pq.write_table(table.replace_schema_metadata(None),
                   str(plain / "part-0.parquet"))
    query = _sql(str(plain))
    views = []
    assert _footer_relations(spark, query, views) == query and views == []
    frame, planning = jobs_during(lambda: dss.sql(spark, query))
    assert len(planning) >= 1
    assert _rows(frame) == _rows(dss.sql(spark, _sql(rollup.path)))
    assert _dss_views(spark) == []


def test_sql_relation_missing_path_raises_as_spark_sql(spark, tmp_path):
    query = _sql(str(tmp_path / "missing"))
    with pytest.raises(Exception) as want:
        spark.sql(query)
    with pytest.raises(type(want.value)):
        dss.sql(spark, query)
    assert _dss_views(spark) == []


def test_footer_relations_rewrite_only_parquet_relations(spark, rollup):
    """Only a backquoted ``parquet.`` relation is replaced: the same path
    in a string literal, or under another source, stays as written."""
    p = rollup.path
    query = (f"SELECT '{p}' AS s, * FROM PARQUET . `{p}` JOIN json.`{p}` "
             f"ON true JOIN parquet.`{p}`")
    views = []
    try:
        out = _footer_relations(spark, query, views)
        assert out == (f"SELECT '{p}' AS s, * FROM {views[0]} JOIN "
                       f"json.`{p}` ON true JOIN {views[1]}")
        assert (spark.table(views[0]).schema
                == spark.read.parquet(p).schema)
    finally:
        for v in views:
            spark.catalog.dropTempView(v)
