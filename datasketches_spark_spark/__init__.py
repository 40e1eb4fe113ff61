"""datasketches_spark_spark — a PySpark-native approximate-analytics engine.

A from-scratch rebuild of the query capabilities of
``maropu/datasketches-spark`` (reference surveyed in SURVEY.md): approximate
quantiles/percentiles, frequent items, and distinct counting, each with the
four-verb lifecycle *direct aggregate / accumulate / combine / estimate*
over an opaque binary sketch-state column — plus large-scale data-pipeline
operators (dedup, similarity search, text analysis, multimodal plumbing)
built on the same primitives.

Quick start::

    import datasketches_spark_spark as dss
    dss.install(spark)                       # register SQL functions
    spark.sql("SELECT approx_count_distinct_ex(user_id) FROM events")

    # two-phase physics from SQL text (map-side partial sketches):
    dss.sql(spark, "SELECT k, approx_percentile_ex(v, 0.9) FROM t GROUP BY k")

    from datasketches_spark_spark import functions as dsf
    df.agg(dsf.approx_percentile_kll("value", [0.5, 0.95]))

    # Apache DataSketches wire-format interop (reference-state migration):
    from datasketches_spark_spark import compat
    df.select(compat.import_datasketches_state("state"))
"""

__version__ = "0.1.0"

# first: every Python worker imports the package when it unpickles an engine
# UDF, and from then on its tasks skip the per-task zip re-reads
from . import _zipimport_cache  # noqa: E402,F401
from . import compat  # noqa: E402
from .register import install  # noqa: E402
from .sql import sql  # noqa: E402

__all__ = ["compat", "install", "sql", "__version__"]
