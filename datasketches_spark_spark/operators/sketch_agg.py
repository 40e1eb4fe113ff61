"""Two-phase sketch aggregation — the engine's scale path.

The reference's ``TypedImperativeAggregate`` gets partial/final aggregation
from Spark's JVM planner for free (``quantileSketches.scala:234-273``:
partial sketches per executor, serialized at the shuffle boundary, merged in
the final stage). A plain ``GROUPED_AGG`` pandas UDF cannot do that — Spark
shuffles *raw rows* to the aggregating task. At 100 TB that difference is
the whole game: shuffling ~KB sketch states per (partition x group) instead
of the raw column.

This module reproduces the reference's physics explicitly:

  phase 1 (map-side)   ``mapInPandas``: stream each input partition once,
                        maintain one live sketch per group key, emit
                        ``(keys..., state: binary)`` — one row per group per
                        partition;
  phase 2 (reduce-side) :func:`sketch_merge`: hash-partition + sort the
                        small state rows by key (the only shuffle), then one
                        ``mapInPandas`` fold per partition
                        (``udfs.combine_fold``) merges each key's run of
                        states — the physical contract of Spark's
                        ``AggregateInPandasExec``, without its Python call
                        per group and state column. An input no larger
                        than one AQE partition skips the shuffle: its rows
                        are coalesced into one task and sorted there,
                        since AQE would have given them one reduce task;
  estimate              the same fold, for each column given a finisher
                        (``finish=``), emits the estimate of the merged
                        sketch instead of its state, as the reference's
                        ``eval`` estimates from the final buffer — no
                        second Python pass decodes the state again.

The output of ``sketch_accumulate`` is a re-aggregable summary table exactly
like the reference's accumulate results (``README.md:68-100``): filter it,
re-combine subsets, and ``*_estimate`` the merged states without rescanning
raw data.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    FloatType,
    StructField,
    StructType,
)

from ..families import _family, _iter_groups
from ..functions.udfs import Finisher, combine_fold
from ..sketches import ITEM_DOUBLE, ITEM_LONG, ITEM_STR


# --------------------------------------------------------------------- operator

def sketch_partial(df: DataFrame, keys: list[str], col: str,
                   family: str, state_col: str = "state",
                   max_groups: int = 100_000,
                   **params) -> DataFrame:
    """Phase 1 for one measure: :func:`sketch_partial_multi` over
    ``state_measure(state_col, col, family, **params)``, its state column
    renamed to ``state_col``. One output row per (partition, group); no
    shuffle."""
    m = state_measure(state_col, col, family, **params)
    return (sketch_partial_multi(df, keys, [m], max_groups=max_groups)
            .withColumnRenamed(f"{state_col}__state", state_col))


class Measure:
    """One sketched aggregate in a :func:`sketch_grouped_agg` call: which
    column to sketch, with which family/params, and how to turn the merged
    state into the output column. A measure with no ``family`` reads a
    column that already holds serialized states (any family): it is merged
    as it is, the ``*_combine`` verb. An ``estimator`` that is a
    :class:`~..functions.udfs.Finisher` (what every ``*_measure`` builder
    sets) runs inside the merge fold; any other Column function runs on
    the merged state column after it."""

    __slots__ = ("name", "col", "family", "params", "estimator",
                 "preserve_type", "multi")

    def __init__(self, name: str, col: str, family: str, estimator, **params):
        self.name = name
        self.col = col
        self.family = family
        self.params = params
        self.estimator = estimator  # Column(state) -> Column(result)
        self.preserve_type = False  # cast result back to input column type
        self.multi = False          # result is an array (multi-percentage)


def percentile_measure(name: str, col: str, percentage,
                       impl: str | None = None, k: int | None = None,
                       preserve_type: bool = False) -> Measure:
    """``preserve_type=True`` reproduces the reference's direct-aggregate
    output typing: the estimate is cast back to the input column's type,
    incl. Decimal (``quantileSketches.scala:196-211``; type matrix test
    ``ApproximateQuerySuite.scala:52-65``). The estimate-from-state path
    stays double, like the reference's (``:601-605``)."""
    from ..functions.quantiles import _percentile_finisher
    m = Measure(name, col, "quantile", _percentile_finisher(percentage),
                impl=impl, k=k)
    m.preserve_type = preserve_type
    m.multi = isinstance(percentage, (list, tuple))
    return m


def freqitems_measure(name: str, col: str, item_type: str = "string",
                      max_map_size: int | None = None) -> Measure:
    from ..functions.freqitems import _freqitems_finisher
    it = ITEM_LONG if item_type in ("long", "int") else ITEM_STR
    return Measure(name, col, "freq", _freqitems_finisher(item_type),
                   item_type=it, max_map_size=max_map_size)


def distinct_measure(name: str, col: str, k: int | None = None,
                     impl: str = "theta", lgk: int | None = None) -> Measure:
    """``impl="theta"`` (default): KMV — exact below k, 8 B/entry states,
    the family the set algebra operates on. ``impl="hll"``: the engine's
    numpy HLL — exact through its sparse phase, then CPC-class accuracy in
    a bounded 2^lgk-byte state; the right choice when per-group NDV is
    huge and summary-table size matters (this is what serves the CPC name,
    at ``conf.distinct_cpc_lgk()``)."""
    from ..functions.distinctcnt import _count_distinct_finisher
    if impl == "hll":
        return Measure(name, col, "hll", _count_distinct_finisher(), lgk=lgk)
    return Measure(name, col, "theta", _count_distinct_finisher(), k=k)


def sample_measure(name: str, col: str, k: int | None = None,
                   item_type: str = "double") -> Measure:
    """Uniform per-group reservoir sample (``sketches/reservoir.py``).
    Exact (returns the complete sorted multiset) while group size <= k;
    beyond that, a uniform k-sample. Output is a sorted array column."""
    from ..functions.sampling import _sample_finisher
    it = (ITEM_LONG if item_type in ("long", "int")
          else ITEM_STR if item_type in ("str", "string") else ITEM_DOUBLE)
    return Measure(name, col, "reservoir", _sample_finisher(item_type),
                   k=k, item_type=it)


def _measure_input(pdf: pd.DataFrame, m: Measure):
    """A measure's batch input: one Series, or the two-column sub-frame
    for (value, weight) measures."""
    return pdf[list(m.col)] if isinstance(m.col, tuple) else pdf[m.col]


def _input_columns(keys: list[str], measures: list[Measure]) -> list[str]:
    """The keys and every measure's input columns, each once, in order."""
    cols = (c for m in measures
            for c in (m.col if isinstance(m.col, tuple) else (m.col,)))
    return list(dict.fromkeys([*keys, *cols]))


def weighted_sample_measure(name: str, col: str, weight_col: str,
                            k: int | None = None,
                            item_type: str = "double") -> Measure:
    """Weight-proportional per-group sample (A-ES weighted reservoir;
    deterministic top-k merge). Zero/negative/null weights excluded."""
    from ..functions.sampling import _sample_finisher
    it = (ITEM_LONG if item_type in ("long", "int")
          else ITEM_STR if item_type in ("str", "string") else ITEM_DOUBLE)
    return Measure(name, (col, weight_col), "wreservoir",
                   _sample_finisher(item_type), k=k, item_type=it)


def sketch_partial_multi(df: DataFrame, keys: list[str],
                         measures: list[Measure],
                         max_groups: int = 100_000) -> DataFrame:
    """Phase 1 over several measures in ONE pass: each input partition is
    streamed once, one live sketch per (group, measure), emitting
    ``(keys..., <name>__state ...)`` rows — one row per (partition,
    group); no shuffle. Input is pruned to the keys and measure columns
    so the parquet scan reads only those columns. Compared with one pass
    per measure this scans the source once instead of M times and
    shuffles one state row per group instead of M.

    A (group, measure) that no valid row reaches (every input null, or
    dropped by the family's ``prep``) emits a null state, so its estimate
    is null: the empty-aggregation-is-null rule of ``_Family.sketch_of``
    and of the reference (``quantileSketches.scala:286-287``).

    ``max_groups`` bounds executor memory for high-cardinality group keys
    (e.g. ``user_id`` at 100 TB): when a partition has accumulated that many
    live groups, their states are flushed downstream and the dict resets.
    Correctness is unaffected — phase 2 re-merges all partial states for a
    key; the cost is only extra (still state-sized, not raw-sized) shuffle
    rows on pathological key distributions."""
    fams = [(m, _family(m.family, **m.params)) for m in measures]
    src = df.select([df[c] for c in _input_columns(keys, measures)])
    fields = [src.schema[k] for k in keys]
    state_cols = [f"{m.name}__state" for m in measures]
    out_schema = StructType(fields + [StructField(c, BinaryType())
                                      for c in state_cols])

    def flush(groups: dict, originals: dict) -> pd.DataFrame:
        rows = {k: [originals[hk][i] for hk in groups]
                for i, k in enumerate(keys)}
        for j, c in enumerate(state_cols):
            rows[c] = [None if sks[j] is None else sks[j].serialize()
                       for sks in groups.values()]
        return pd.DataFrame(rows)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        groups: dict = {}
        originals: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            ctxs = [fam.prep(_measure_input(pdf, m)) for m, fam in fams]
            for hk, kv, idx in (_iter_groups(pdf, keys) if keys
                                else [((), (), None)]):
                sks = groups.get(hk)
                if sks is None:
                    sks = groups[hk] = [None] * len(fams)
                    originals[hk] = kv
                for j, (_, fam) in enumerate(fams):
                    ctx = ctxs[j]
                    if sks[j] is None:
                        # no valid row yet: the state stays null
                        valid = ctx[-1] if idx is None else ctx[-1][idx]
                        if not valid.any():
                            continue
                        sks[j] = fam.make()
                    fam.update(sks[j], ctx, idx)
            if len(groups) >= max_groups:
                yield flush(groups, originals)
                groups, originals = {}, {}
        if groups:
            yield flush(groups, originals)

    return src.mapInPandas(build, out_schema)


def _merge_input(df: DataFrame, keys: list[str], ms: list[Measure],
                 max_groups: int) -> tuple[DataFrame, list[str]]:
    """The rows :func:`sketch_merge` folds for measures ``ms``, and their
    state columns in measure order. A state measure (no family) is its own
    input column; raw measures go through :func:`sketch_partial_multi`,
    and when both kinds meet, the state rows are appended to the partial
    rows, each side null in the other's columns (the fold skips nulls).

    Known cost of the mixed case: the partial rows and the state rows
    are two subplans of ``df``, so Spark evaluates ``df`` twice (two
    scans, and any join or subquery in it twice). Over a
    non-deterministic ``df`` (``rand()`` in a filter, ``TABLESAMPLE``)
    the raw measures and the state measures may see different rows."""
    raw = [m for m in ms if m.family is not None]
    if not raw:
        return df, [m.col for m in ms]
    rows = sketch_partial_multi(df, keys, raw, max_groups=max_groups)
    states = [df[m.col].alias(f"{m.name}__state") for m in ms
              if m.family is None]
    if states:
        rows = rows.unionByName(df.select(*(df[k] for k in keys), *states),
                                allowMissingColumns=True)
    return rows, [f"{m.name}__state" for m in ms]


def sketch_grouped_agg(df: DataFrame, keys: list[str],
                       *measures: Measure,
                       max_groups: int = 100_000) -> DataFrame:
    """Grouped sketch aggregation with the scale-correct physics: map-side
    partial sketches (``mapInPandas``), a state-only shuffle, reduce-side
    merge — :func:`sketch_accumulate_multi`'s two phases — then estimate.
    This is what a bare ``GROUPED_AGG`` pandas UDF cannot do — it would
    shuffle every raw row to the aggregating task (the reference gets
    partial/final for free from ``TypedImperativeAggregate``,
    ``quantileSketches.scala:234-273``, whose ``eval`` estimates straight
    from the merged buffer). Like ``eval``, the merge fold emits the
    estimate of every measure whose estimator is a
    :class:`~..functions.udfs.Finisher`; any other estimator, and the
    ``preserve_type`` cast, run as Columns over the fold's output.

    A measure with no family (a state column) skips phase 1: its states
    go straight into the one merge fold, so a combine-only call runs one
    Python pass over its input rows (with no keys above the one-task
    limit, :func:`sketch_merge` also folds each input partition first).

    ``max_groups`` bounds the per-executor live-sketch dict for
    high-cardinality keys (see :func:`sketch_partial_multi`); flushing
    never changes results, only the count of (still state-sized) shuffle
    rows."""
    ms = list(measures)
    rows, cols = _merge_input(df, keys, ms, max_groups)
    merged = sketch_merge(rows, keys, cols, names=[m.name for m in ms],
                          finish=[_finisher(m) for m in ms])
    outs = []
    for m in ms:
        out = col = merged[m.name]
        if _finisher(m) is None:
            out = m.estimator(col)
        if m.preserve_type:
            from ..functions.quantiles import preserve_output_type
            dt = df.schema[m.col].dataType
            out = preserve_output_type(out, dt.simpleString(), m.multi)
        # the fold's own output is already named m.name
        outs.append(out if out is col else out.alias(m.name))
    return merged.select(*keys, *outs)


def _run_key(df: DataFrame, key: str):
    """The partition and sort expression of one group key. A float key
    puts NaN with null: Arrow->pandas renders both as NaN, so the fold
    must meet them in one run to emit one group."""
    c = df[key]
    if isinstance(df.schema[key].dataType, (FloatType, DoubleType)):
        return F.when(~F.isnan(c), c)
    return c


def _finisher(m: Measure) -> Finisher | None:
    """The measure's estimator when the merge fold can run it."""
    return m.estimator if isinstance(m.estimator, Finisher) else None


def sketch_merge(df: DataFrame, keys: list[str],
                 state_col: str | list[str] = "state",
                 names: list[str] | None = None,
                 finish: list[Finisher | None] | None = None) -> DataFrame:
    """Phase 2: merge partial states per group (family-agnostic), one row
    per group. ``state_col`` is one state column or a list of them;
    ``names`` renames them in the output. The state rows are
    hash-partitioned and sorted by ``keys`` and then folded by one
    ``mapInPandas`` pass per partition. When the optimizer's size
    estimate of the rows is at most
    ``spark.sql.adaptive.coalescePartitions.minPartitionSize``, they are
    coalesced into one partition and sorted there instead: the same fold
    in one task, with no exchange and so one job fewer.

    ``finish`` has one entry per state column. None (the default for
    every column) emits the merged state. A
    :class:`~..functions.udfs.Finisher` emits its estimate straight from
    the merged sketch, the value and type ``finisher(state column)``
    gives on the merged state, so that state is neither serialized nor
    decoded again.

    With no keys the rows go to one partition (by exchange or coalesce,
    under the same rule) together with one all-null row, so the result
    is always one row, null states for no input (the global-aggregate
    contract; an input the optimizer proves empty would otherwise leave
    no partition to run the fold on). Before that exchange the same fold
    runs once per input partition, emitting its merged states: the
    global aggregate's partial/final split, which keeps the decodes
    spread over the input tasks instead of all in the one final task."""
    cols = [state_col] if isinstance(state_col, str) else list(state_col)
    names = cols if names is None else list(names)
    finish = [None] * len(cols) if finish is None else list(finish)
    if len(finish) != len(cols):
        raise ValueError(f"finish has {len(finish)} entries for "
                         f"{len(cols)} state columns")
    bound = [None if f is None else f.bind() for f in finish]
    # bound columns and one positional rename: a Column built with
    # F.col or renamed with alias costs a dozen py4j round trips to the JVM
    src = df.select([df[c] for c in (*keys, *cols)])
    if names != cols:
        src = src.toDF(*keys, *names)
    schema = StructType([src.schema[k] for k in keys]
                        + [StructField(n, BinaryType() if b is None
                                       else b.return_type)
                           for n, b in zip(names, bound)])
    one_task = _fits_one_task(src)
    if keys:
        order = [_run_key(src, k) for k in keys]
        src = (src.coalesce(1) if one_task else src.repartition(*order)) \
            .sortWithinPartitions(*order)
    else:
        if not one_task:
            # the exchange sends every row to one task: fold each input
            # partition to one row first, so the decodes run in parallel
            src = src.mapInPandas(combine_fold([], names), src.schema)
        nulls = df.sparkSession.range(1).select(
            *(F.lit(None).cast(BinaryType()).alias(n) for n in names))
        src = src.union(nulls)
        src = src.coalesce(1) if one_task else src.repartition(1)
    return src.mapInPandas(combine_fold(keys, names, bound), schema)


# AQE's floor on the size of a coalesced shuffle partition
_MIN_PARTITION_SIZE = "spark.sql.adaptive.coalescePartitions.minPartitionSize"


def _fits_one_task(df: DataFrame) -> bool:
    """True when the optimizer's size estimate of ``df`` is at most
    ``spark.sql.adaptive.coalescePartitions.minPartitionSize``. AQE sizes
    a coalesced partition at ``max(total / parallelism, that floor)``, so
    below it the whole shuffle would land in one reduce task anyway: an
    exchange would add a stage and a job and buy no parallelism."""
    spark = df.sparkSession
    limit = spark._jvm.org.apache.spark.network.util.JavaUtils \
        .byteStringAsBytes(spark.conf.get(_MIN_PARTITION_SIZE))
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return size <= limit


def sketch_accumulate(df: DataFrame, keys: list[str], col: str,
                      family: str, state_col: str = "state",
                      **params) -> DataFrame:
    """Two-phase accumulate: ``(keys..., state)`` summary table — the
    one-measure form of :func:`sketch_accumulate_multi`.

    Equivalent result to ``groupBy(keys).agg(approx_*_accumulate(col))`` but
    with map-side combine: the shuffle carries sketch states, not raw rows.
    ``max_groups`` (in ``params``) reaches :func:`sketch_partial_multi`.
    """
    max_groups = params.pop("max_groups", 100_000)
    return sketch_accumulate_multi(
        df, keys, [state_measure(state_col, col, family, **params)],
        max_groups=max_groups)


def state_measure(name: str, col, family: str, **params) -> Measure:
    """A :class:`Measure` whose output is the raw merged STATE (for
    summary tables that estimate later), not an estimate — the
    multi-measure counterpart of :func:`sketch_accumulate`."""
    return Measure(name, col, family, lambda c: c, **params)


def sketch_accumulate_multi(df: DataFrame, keys: list[str],
                            measures: list[Measure],
                            max_groups: int = 100_000) -> DataFrame:
    """Two-phase accumulate for SEVERAL measures in ONE pass (r16):
    the source scans once, one live sketch per (group, measure) on the
    map side, ONE state-only shuffle row per group, and the output is
    ``(keys..., <measure name> binary state ...)`` — what a summary
    table writing N sketch families per key should run instead of N
    :func:`sketch_accumulate` scans. Build measures with
    :func:`state_measure` (any family the single-measure path
    accepts, incl. tuple's two-column input as a col tuple)."""
    ms = list(measures)
    rows, cols = _merge_input(df, keys, ms, max_groups)
    return sketch_merge(rows, keys, cols, names=[m.name for m in ms])
