"""Parquet source helpers for the engine's test/bench tables.

The reference reads CSV demo data with stock Spark readers
(``README.md:31, :121, :239``); this engine's fixtures are the
driver-generated parquet tables (TESTDATA.md). Those files carry
``TIMESTAMP(NANOS)`` columns which Spark rejects by default
([PARQUET_TYPE_ILLEGAL]); we read them via
``spark.sql.legacy.parquet.nanosAsLong`` and convert to regular
microsecond timestamps with *integer* arithmetic (``div 1000`` — a float
division would lose microsecond precision: nanos-since-epoch exceeds
2**53).
"""

from __future__ import annotations

import contextlib
import json
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Columns stored as TIMESTAMP(NANOS) in the fixture parquet, per table.
_NANOS_TS_COLS = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}

NANOS_CONF = {"spark.sql.legacy.parquet.nanosAsLong": "true"}

# The footer key under which Spark's parquet writer stores the row schema.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def session_builder(master: str = "local[*]", app: str = "datasketches_spark_spark",
                    shuffle_partitions: int = 32):
    """Opinionated builder: AQE on, Arrow on, nanos-parquet readable.

    ``maxRecordsPerBatch`` is raised from Spark's 10k default to 64k:
    every sketch operator runs over ``mapInPandas``, and per-batch
    Python/Arrow fixed costs dominate at 10k (measured ~25% off the
    two-phase quantile queries' wall at 64k). Worst-case batch memory is
    bounded by row width — numeric sketch inputs are ~16-64 B/row
    (1-4 MB/batch); KB-wide text/array rows reach ~64 MB/batch, fine for
    any executor this engine targets. Note ``max_groups`` flushes are
    checked at batch boundaries, so the live-dict overshoot bound grows
    with the batch size — still bounded, still state-sized."""
    b = (SparkSession.builder.master(master).appName(app)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         .config("spark.sql.legacy.parquet.nanosAsLong", "true"))
    return b


@contextlib.contextmanager
def session_conf(spark: SparkSession, conf: dict[str, str]):
    """Set the session config ``conf`` for the ``with`` block. On exit,
    also on an exception, each key gets back its previous value, or is
    unset if it was unset before the block."""
    before = spark.conf.getAll
    prev = {}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
            prev[k] = before.get(k)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_concurrently(*fns):
    """Call each of ``fns`` in its own driver thread and return their
    results in argument order. Independent blocking driver calls
    (writes, checkpoints, collects) overlap, so their stages back-fill
    each other's idle cores. A callable's exception is re-raised once
    every callable has finished."""
    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futures = [pool.submit(fn) for fn in fns]
        return [f.result() for f in futures]


def arrow_local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A driver-assembled local relation via the Arrow path.

    ``spark.createDataFrame(list_of_tuples, ddl)`` builds a *pickled*
    Python-RDD-backed plan: every downstream action re-runs the pickle
    deserialization job (measured 0.4-1.5 s per action on this box, and
    it makes any expression over the frame re-pay that cost — a 10-row
    pair table cost seconds per consumer). Routing the same rows through
    a pandas DataFrame + the declared schema hits the Arrow conversion
    instead, which plants a JVM-local relation (~0.05 s, no re-execution
    cost). Guide §4.1/§6 ("Arrow for driver transfers"). Semantically
    identical: the declared DDL schema is authoritative either way.
    """
    import pandas as pd

    # split the DDL on top-level commas (array<struct<a:int,b:int>> safe)
    names, depth, cur = [], 0, []
    for ch in schema:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            names.append("".join(cur).strip().split()[0])
            cur = []
        else:
            cur.append(ch)
    if cur:
        names.append("".join(cur).strip().split()[0])
    rows = list(rows)
    pdf = pd.DataFrame(
        {n: [r[i] for r in rows] for i, n in enumerate(names)},
        columns=names)
    return spark.createDataFrame(pdf, schema=schema)


def _footer_schema(path: str) -> StructType | None:
    """The Spark schema stored in the footer of the first data file under
    ``path`` that has one, or None (no such file, or not a directory).
    Reading a directory with it, ``spark.read.schema(...).parquet(path)``,
    skips the job ``spark.read.parquet`` runs to infer the schema."""
    import pyarrow.parquet as pq
    try:
        names = sorted(n for n in os.listdir(path)
                       if not n.startswith(("_", ".")))
    except OSError:
        return None
    for n in names:
        try:
            meta = pq.read_metadata(os.path.join(path, n)).metadata or {}
        except Exception:  # not a parquet file: let Spark's read decide
            continue
        if _SPARK_SCHEMA_KEY in meta:
            return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return None


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, restoring nanos columns to TimestampType."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _NANOS_TS_COLS.get(name, []):
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def read_csv(spark: SparkSession, path: str, header: bool = True,
             sep: str = ",", schema=None, infer: bool = True) -> DataFrame:
    """CSV source with the reference demos' options surface
    (``README.md:31, :121, :239``: header/sep, schema inference)."""
    reader = spark.read.option("header", str(header).lower()).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def write_summary(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: list[str] | None = None) -> None:
    """Persist a sketch-summary table (binary states are plain parquet
    columns; partitioning by time/group keys enables partition pruning on
    later combine-subset queries)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    """Read fixture tables and register them as temp views."""
    out = {}
    for name in names or TABLE_NAMES:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
