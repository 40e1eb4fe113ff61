"""``sources.session_conf`` scopes session config to a block, and
``sources.run_concurrently`` overlaps driver calls; the board queries
in ``__spark_entry__`` change config and overlap jobs only through
them."""

import threading
import time

import pytest

from datasketches_spark_spark.sources import run_concurrently, session_conf

UNSET = "spark.dss.test.sessionConf.unset"
PARTS = "spark.sql.shuffle.partitions"


def test_unset_key_stays_unset(spark):
    assert UNSET not in spark.conf.getAll
    with session_conf(spark, {UNSET: "x"}):
        assert spark.conf.get(UNSET) == "x"
    assert UNSET not in spark.conf.getAll


def test_set_key_gets_its_old_value_back(spark):
    old = spark.conf.get(PARTS)
    with session_conf(spark, {PARTS: "7"}):
        assert spark.conf.get(PARTS) == "7"
    assert spark.conf.get(PARTS) == old


def test_keys_are_restored_when_the_block_raises(spark):
    old = spark.conf.get(PARTS)
    with pytest.raises(RuntimeError, match="boom"):
        with session_conf(spark, {PARTS: "7", UNSET: "x"}):
            raise RuntimeError("boom")
    assert spark.conf.get(PARTS) == old
    assert UNSET not in spark.conf.getAll


def test_keys_set_before_a_failing_key_are_restored(spark):
    with pytest.raises(Exception, match="spark.sql.warehouse.dir"):
        with session_conf(spark, {UNSET: "x",
                                  "spark.sql.warehouse.dir": "/nowhere"}):
            pass
    assert UNSET not in spark.conf.getAll


def test_nested_blocks_restore_in_turn(spark):
    old = spark.conf.get(PARTS)
    with session_conf(spark, {UNSET: "outer"}):
        with session_conf(spark, {UNSET: "inner", PARTS: "3"}):
            assert spark.conf.get(UNSET) == "inner"
            assert spark.conf.get(PARTS) == "3"
        assert spark.conf.get(UNSET) == "outer"
        assert spark.conf.get(PARTS) == old
    assert UNSET not in spark.conf.getAll


def test_run_concurrently_returns_results_in_argument_order():
    def slow():
        time.sleep(0.2)
        return "slow"

    assert run_concurrently(slow, lambda: 2, lambda: 3) == ["slow", 2, 3]


def test_run_concurrently_overlaps_its_callables():
    barrier = threading.Barrier(2, timeout=10)
    assert sorted(run_concurrently(barrier.wait, barrier.wait)) == [0, 1]


def test_run_concurrently_reraises_after_all_finish():
    done = []

    def slow():
        time.sleep(0.2)
        done.append("slow")

    def fail():
        raise ValueError("bad leg")

    with pytest.raises(ValueError, match="bad leg"):
        run_concurrently(fail, slow)
    assert done == ["slow"]
