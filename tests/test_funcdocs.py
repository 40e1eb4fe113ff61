"""DESCRIBE FUNCTION metadata (funcdocs.py): reference entry-point
parity with the ExpressionInfo usage strings its shims register."""

import pytest

import datasketches_spark_spark as dss
from datasketches_spark_spark.funcdocs import FUNCTION_DOCS
from datasketches_spark_spark.register import SQL_FUNCTIONS


@pytest.fixture(scope="module", autouse=True)
def _installed(spark):
    dss.install(spark)


@pytest.mark.parametrize("name", [
    "approx_percentile_ex", "approx_count_distinct_ex",
    "approx_freqitems", "approx_percentile_accumulate",
    "approx_join_size"])
def test_describe_function_shows_usage(spark, name):
    text = "\n".join(
        r[0] for r in spark.sql(f"DESCRIBE FUNCTION EXTENDED {name}")
        .collect())
    assert f"Usage: {name}(" in text
    assert "Extended Usage:" in text and name in text


def test_documented_functions_still_execute(spark):
    r = spark.sql("SELECT approx_percentile_ex(c, 0.5) AS p FROM VALUES "
                  "(0.0), (1.0), (2.0) AS t(c)").collect()
    assert r[0]["p"] == 1.0
    r = spark.sql("SELECT approx_count_distinct_ex(c) AS n FROM VALUES "
                  "(1), (2), (1) AS t(c)").collect()
    assert r[0]["n"] == 2


def test_all_docs_point_at_registered_functions(spark):
    missing = []
    for name in FUNCTION_DOCS:
        rows = spark.sql(f"DESCRIBE FUNCTION {name}").collect()
        text = "\n".join(r[0] for r in rows)
        if f"Usage: {name}(" not in text:
            missing.append(name)
    assert not missing, f"undocumented after install: {missing}"


def test_every_table_row_is_documented(spark):
    undocumented = []
    for name in SQL_FUNCTIONS:
        text = "\n".join(r[0] for r in spark.sql(
            f"DESCRIBE FUNCTION EXTENDED {name}").collect())
        if f"Usage: {name}(" not in text or "Extended Usage:" not in text:
            undocumented.append(name)
    assert not undocumented, f"no DESCRIBE FUNCTION docs: {undocumented}"
