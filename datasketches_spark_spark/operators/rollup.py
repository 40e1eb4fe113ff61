"""Managed materialized sketch rollups: build once, refresh incrementally,
answer aggregate queries from states forever.

The q52 pattern as a first-class object: a parquet table of
``(keys..., <measure>__state ...)`` rows whose binary states are mergeable
monoids, so

* **refresh** is an APPEND — new data becomes new partial-state rows; no
  read-modify-write of existing groups, no reprocessing of old raws;
* **query** merges states at read time, optionally RE-GROUPING to any
  subset of the rollup keys (day-level states answer week/type-level
  questions) — the raw table is never rescanned;
* **compact** folds appended partials back to one row per group when the
  append count grows (pure state-merge, still no raw data).

Every merge here — build, refresh, compact and query — is
:func:`~.sketch_agg.sketch_merge`: the state rows are hash-partitioned and
sorted by the (re-)grouping keys, then one ``mapInPandas`` fold per
partition merges each key's run of states. A selection no larger than one
AQE partition (``spark.sql.adaptive.coalescePartitions.minPartitionSize``)
is folded in one task with no exchange, so a query over a small rollup
runs one job. For :meth:`SketchRollup.estimate`
that same fold also emits each measure's estimate from the merged sketch
when the measure's estimator is a finisher (every ``*_measure`` builder's
is); only other Column estimators run after it, over merged states.

Reads take the table schema from the Spark schema stored in a data file's
parquet footer, so a query or compact runs no schema-inference job.

At 100 TB the rollup is O(groups) KB-rows; every query cost is
proportional to the groups selected, not the rows ever ingested. The
same shape as a streaming-ingest summary table — states written by the
streaming sink merge interchangeably with batch-built ones (one wire
format everywhere).

No reference analog as an API, but this IS the reference's flagship
accumulate -> filter -> combine -> estimate pipeline (README.md:68-100)
with the summary table made durable and maintainable.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import _footer_schema
from .sketch_agg import (
    Measure, sketch_grouped_agg, sketch_merge, sketch_partial_multi)

class SketchRollup:
    """A materialized sketch rollup table at ``path``.

    ``keys`` are the bucket columns (e.g. ``["day", "event_type"]``);
    ``measures`` the sketched aggregates maintained per bucket.
    """

    def __init__(self, path: str, keys: list[str],
                 measures: list[Measure]):
        if not keys:
            raise ValueError("a rollup needs at least one key column")
        self.path = path
        self.keys = list(keys)
        self.measures = list(measures)
        self._state_cols = [f"{m.name}__state" for m in measures]

    # ------------------------------------------------------------ build

    def _accumulate(self, df: DataFrame) -> DataFrame:
        """One-pass multi-measure partial sketching + per-group merge —
        the shuffle carries states, not rows."""
        partial = sketch_partial_multi(df, self.keys, self.measures)
        return sketch_merge(partial, self.keys, self._state_cols)

    def build(self, df: DataFrame) -> None:
        """(Re)materialize the rollup from ``df`` — one scan of the raw
        data, ever."""
        self._accumulate(df).write.mode("overwrite").parquet(self.path)

    def refresh(self, df_new: DataFrame) -> None:
        """Incremental update: accumulate ONLY the new data and append
        its state rows. Existing groups gain extra partial rows (merged
        at query time); old raw data is never touched."""
        self._accumulate(df_new).write.mode("append").parquet(self.path)

    def compact(self, spark: SparkSession) -> None:
        """Fold appended partial rows back to one row per group. Pure
        state merging; the swap goes through a temp directory (a table
        format — Iceberg/Delta — would make this an atomic commit; plain
        parquet gets the local-rename equivalent)."""
        merged = sketch_merge(self.states(spark), self.keys, self._state_cols)
        # temp dir SIBLING to the table so the final rename never crosses
        # a filesystem boundary (os.rename raises EXDEV across mounts)
        tmp = tempfile.mkdtemp(
            prefix=".compact_", dir=os.path.dirname(self.path.rstrip("/")))
        merged.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(self.path)
        os.rename(tmp, self.path)

    # ------------------------------------------------------------ query

    def states(self, spark: SparkSession) -> DataFrame:
        """The rollup's state rows. The schema comes from a data file's
        footer when Spark wrote one, which saves the job that
        ``spark.read.parquet`` runs to infer it; otherwise (or for an
        empty table) the plain read runs, with its inference and errors."""
        schema = _footer_schema(self.path)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self.path)

    def _selected(self, spark: SparkSession, where,
                  group_by: list[str] | None) -> tuple[DataFrame, list[str]]:
        """The state rows ``where`` selects, and the checked grouping."""
        group_by = self.keys if group_by is None else list(group_by)
        unknown = set(group_by) - set(self.keys)
        if unknown:
            raise ValueError(f"group_by not in rollup keys: {sorted(unknown)}")
        df = self.states(spark)
        if where is not None:
            df = df.where(where)
        return df, group_by

    def query(self, spark: SparkSession, where=None,
              group_by: list[str] | None = None) -> DataFrame:
        """Merged states for a subset: optional ``where`` predicate over
        the KEY columns (pushed to the parquet scan), optional
        ``group_by`` re-grouping to a subset of the rollup keys —
        states for the keys dropped from the grouping are combined."""
        return sketch_merge(*self._selected(spark, where, group_by),
                            self._state_cols)

    def estimate(self, spark: SparkSession, where=None,
                 group_by: list[str] | None = None) -> DataFrame:
        """Measure estimates for a subset — the user-facing answer table:
        :func:`~.sketch_agg.sketch_grouped_agg` over the selected state
        columns, so the merge fold emits the estimate of each measure whose
        estimator is a finisher; other estimators run over the merged state
        column.
        (`Measure.preserve_type` is not applied here: a rollup has no
        raw input column to infer from; pass an explicit `output_type`
        estimator if integral output is required.)"""
        df, group_by = self._selected(spark, where, group_by)
        return sketch_grouped_agg(df, group_by, *(
            Measure(m.name, c, None, m.estimator)
            for m, c in zip(self.measures, self._state_cols)))
