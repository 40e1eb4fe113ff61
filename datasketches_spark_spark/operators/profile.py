"""One-stop table profiling — the data-quality summary every ingest
pipeline runs before training (the Deequ/TFDV shape), composed from the
engine's own sketch measures so the cost model is fixed: TWO
column-pruned scans for the WHOLE profile, however many columns.

- Pass 1 (JVM, whole-stage codegen): row count and per-column
  null count / min / max in one relational aggregate.
- Pass 2 (the engine's multi-measure pass): per-column NDV (Theta),
  numeric percentiles (quantile sketch) and categorical top-k
  (frequent-items) — ALL columns' partial sketches built in ONE
  ``sketch_partial_multi`` scan, one state-only exchange.

Every metric is exact in the exact regime (fixture NDV below the Theta
k, per-column n below the quantile k, distinct values below the
freq-items map), so an independent engine reproduces the profile
bit-for-bit — the demo-query gate pins it against DuckDB.

Output is long format, one row per (column, metric):
``(column, metric, num, str)`` — numeric metrics carry ``num``
(doubles; counts as exact integers in double), top-k rows carry the
item in ``str`` and its estimate in ``num``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StringType

from .sketch_agg import (distinct_measure, freqitems_measure,
                         percentile_measure, sketch_grouped_agg)

__all__ = ["profile_table"]


def profile_table(df: DataFrame, columns: list[str] | None = None,
                  percentiles: tuple[float, ...] = (0.5,),
                  top_k: int = 3) -> DataFrame:
    """Profile ``columns`` (default: all numeric and string columns).

    Numeric columns report ``n_nulls, min, max, ndv`` and one row per
    requested percentile (``p50`` etc.); string columns report
    ``n_nulls, ndv`` and ``top1..top{top_k}`` most frequent values.
    A ``_table`` pseudo-column carries the row count.
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    if columns is None:
        columns = [c for c, t in fields.items()
                   if isinstance(t, (NumericType, StringType))]
    if not columns:
        raise ValueError("no profilable columns")
    numeric = [c for c in columns if isinstance(fields[c], NumericType)]
    stringy = [c for c in columns if isinstance(fields[c], StringType)]

    jvm_aggs = [F.count("*").alias("_rows")]
    for c in columns:
        jvm_aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("double").alias(f"nulls__{c}"))
    for c in numeric:
        jvm_aggs.append(F.min(c).cast("double").alias(f"min__{c}"))
        jvm_aggs.append(F.max(c).cast("double").alias(f"max__{c}"))
    base = df.agg(*jvm_aggs)

    measures = []
    for c in columns:
        measures.append(distinct_measure(f"ndv__{c}", c))
    for c in numeric:
        for p in percentiles:
            measures.append(percentile_measure(
                f"p{int(p * 100)}__{c}", c, p, impl="MERGEABLE"))
    for c in stringy:
        measures.append(freqitems_measure(f"top__{c}", c))
    sk = sketch_grouped_agg(df, [], *measures)

    # The whole profile is ONE bounded row (a handful of scalars and
    # top-k lists) — collect it and assemble the long format on the
    # driver (the q55 bounded-collect pattern). A union of per-metric
    # projections would re-execute both aggregate subtrees once per
    # branch: Catalyst does not share common subtrees across a Union.
    b = base.collect()[0]
    s = sk.collect()[0]

    rows: list[tuple] = [("_table", "rows", float(b["_rows"]), None)]
    for c in columns:
        rows.append((c, "nulls", float(b[f"nulls__{c}"]), None))
        # an all-null column has a null sketch; count(distinct) says 0
        rows.append((c, "ndv", float(s[f"ndv__{c}"] or 0), None))
    for c in numeric:
        mn, mx = b[f"min__{c}"], b[f"max__{c}"]
        rows.append((c, "min", None if mn is None else float(mn), None))
        rows.append((c, "max", None if mx is None else float(mx), None))
        for p in percentiles:
            name = f"p{int(p * 100)}"
            v = s[f"{name}__{c}"]
            rows.append((c, name, None if v is None else float(v), None))
    for c in stringy:
        items = s[f"top__{c}"] or []
        for i in range(min(top_k, len(items))):
            rows.append((c, f"top{i + 1}",
                         float(items[i]["estimated"]), items[i]["item"]))

    out = df.sparkSession.createDataFrame(
        rows, "column string, metric string, num double, str string")
    return out.orderBy("column", "metric", "str")
