import contextlib
import os

import pytest
from pyspark.sql import SparkSession

from datasketches_spark_spark.sources import session_builder

# Property-test determinism policy (r15 verdict #6): the default
# profile keeps hypothesis's randomized example search — that is how
# the r15 min/max defect was found — but close-record / CI runs set
# DSS_HYPOTHESIS_PROFILE=pinned so "N tests green" is a reproducible
# pin rather than a roll of the example dice.
try:
    from hypothesis import settings as _hyp_settings
    _hyp_settings.register_profile("pinned", derandomize=True)
    _hyp_settings.register_profile("dev")
    _hyp_settings.load_profile(
        os.environ.get("DSS_HYPOTHESIS_PROFILE", "dev"))
except ImportError:  # hypothesis not installed: property tests skip
    pass

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = (session_builder(master="local[4]", app="dss-tests",
                             shuffle_partitions=4)
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from datasketches_spark_spark.sources import load_tables
    return load_tables(spark, sf_dir)


# ``sketch_merge`` folds in one task, with no exchange, when its input's
# size estimate is at most this conf; these values force each plan.
MIN_PARTITION_SIZE = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
MERGE_PLAN_CONF = {"exchange": "1b", "single_task": f"{2 ** 63 - 1}b"}


@pytest.fixture
def merge_plan(spark):
    """``with merge_plan(plan):`` builds every ``sketch_merge`` in the
    block with ``plan`` ("exchange" or "single_task"); the conf is
    restored after it."""
    @contextlib.contextmanager
    def force(plan: str):
        old = spark.conf.get(MIN_PARTITION_SIZE)
        spark.conf.set(MIN_PARTITION_SIZE, MERGE_PLAN_CONF[plan])
        try:
            yield
        finally:
            spark.conf.set(MIN_PARTITION_SIZE, old)
    return force


@pytest.fixture
def exchange_merge(merge_plan):
    """Force the hash-partitioned merge plan, for tests that pin its
    exchange on inputs small enough to take the single-task plan."""
    with merge_plan("exchange"):
        yield


@pytest.fixture
def jobs_during(spark):
    """``jobs_during(fn)`` runs ``fn`` and returns ``(its result, the ids
    of the Spark jobs it ran)``, counted through a job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "jobs-during"

    def run(fn):
        sc.setJobGroup(group, group)
        try:
            before = set(tracker.getJobIdsForGroup(group))
            out = fn()
            return out, set(tracker.getJobIdsForGroup(group)) - before
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    return run
