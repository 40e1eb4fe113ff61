"""Streaming sketch aggregation — mergeable summaries over unbounded data.

Sketch states are commutative mergeable monoids, which makes them ideal
streaming aggregates: a running serialized state per group is updated with
each micro-batch and is queryable at any time with the same ``*_estimate``
functions used in batch (the reference has no streaming support at all —
``SURVEY.md §2b`` marks this an extension opportunity).

Two shapes:

* ``sketch_accumulate_stream_multi`` — custom stateful operator via
  ``applyInPandasWithState``: one serialized sketch per (group key,
  measure) lives in the state store; each trigger folds the new rows in
  and emits the updated ``(keys..., <name>__state ..., n)`` row. Use with
  update-mode sinks. ``sketch_accumulate_stream`` is its one-measure form
  (``(keys..., state, n)``); both run the one fold in ``_keyed_fold``.
* ``streaming_summary_sink`` — ``foreachBatch`` composition for
  append-style pipelines: every micro-batch runs the batch two-phase
  operator (``sketch_accumulate``: partial states -> merge) and APPENDS
  its per-batch states to a summary table; readers re-combine states at
  query time with ``*_combine``. This is the streaming version of the
  reference's accumulate -> (filter) -> combine -> estimate pipeline and
  needs no state store at all — the summary table IS the state.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)

from ..families import _family
from ..operators import sketch_accumulate
from ..operators.sketch_agg import (
    _input_columns, _measure_input, state_measure)
from ..sketches import deserialize_any


def with_event_time_watermark(df: DataFrame, ts_col: str,
                              delay: str) -> DataFrame:
    """``withWatermark`` that accepts TIMESTAMP_NTZ event-time columns.

    Parquet written without timezone metadata (the common case — the
    engine's own test fixtures included) is read back by Spark 4 as
    ``TIMESTAMP_NTZ``, which ``withWatermark`` rejects with
    ``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE``. Every streaming user of
    real-world parquet hits this, so the engine casts NTZ wall-clock
    times to the session-local ``TIMESTAMP`` before installing the
    watermark; other types pass through untouched (and non-timestamp
    columns still fail with Spark's own error, which names the column)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType
    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df.withWatermark(ts_col, delay)


def streaming_dedup(df: DataFrame, cols: list[str],
                    event_time: str | None = None,
                    delay: str | None = None) -> DataFrame:
    """Streaming exact deduplication — the training-data-pipeline shape
    (suppress re-crawled / re-queued documents by content fingerprint as
    they arrive, instead of re-deduping the whole corpus in batch).

    With ``(event_time, delay)``: installs an NTZ-tolerant watermark
    (:func:`with_event_time_watermark`) and applies Spark's
    ``dropDuplicatesWithinWatermark`` — a key's seen-state is dropped
    once the watermark passes its event time plus ``delay``, so state
    stays BOUNDED on an unbounded stream. Duplicates arriving within the
    delay window are suppressed; a re-arrival after the window counts as
    new (the documented within-watermark contract — pick ``delay`` to
    cover the pipeline's real duplicate-arrival spread).

    Without event time: plain ``dropDuplicates`` — state grows with the
    distinct-key count forever; only safe for bounded key domains."""
    if (event_time is None) != (delay is None):
        raise ValueError("event_time and delay must be provided together")
    if event_time is not None:
        return (with_event_time_watermark(df, event_time, delay)
                .dropDuplicatesWithinWatermark(cols))
    return df.dropDuplicates(cols)


def await_or_fail(query, timeout_sec: float) -> None:
    """``awaitTermination`` that cannot silently time out: on timeout the
    query is stopped and a TimeoutError raised, so a caller can never read
    a partially-populated sink as if it were final (``awaitTermination``
    returns False on timeout, which is easy to ignore)."""
    if not query.awaitTermination(timeout_sec):
        query.stop()
        raise TimeoutError(
            f"streaming query {query.name or query.id} did not terminate "
            f"within {timeout_sec}s; sink contents would be partial")


_INTERVAL_UNITS_MS = {"millisecond": 1, "second": 1000, "minute": 60_000,
                      "hour": 3_600_000, "day": 86_400_000,
                      "week": 7 * 86_400_000}


def _interval_ms(value) -> int:
    """Parse an eviction delay: a number (seconds) or a Spark-style
    interval string like ``"10 minutes"`` / ``"1 day"``."""
    if isinstance(value, (int, float)):
        return int(value * 1000)
    import re
    m = re.fullmatch(r"\s*(\d+(?:\.\d+)?)\s*([a-zA-Z]+?)s?\s*", str(value))
    if m and m.group(2).lower() in _INTERVAL_UNITS_MS:
        return int(float(m.group(1)) * _INTERVAL_UNITS_MS[m.group(2).lower()])
    raise ValueError(f"cannot parse eviction interval {value!r}")


def _window_key_index(key_fields) -> int | None:
    """Index of an event-time window struct among the grouping keys (a
    struct with ``start``/``end`` timestamp fields, as produced by
    ``F.window``), or None."""
    from pyspark.sql.types import StructType as ST, TimestampType, TimestampNTZType
    for i, f in enumerate(key_fields):
        dt = f.dataType
        if (isinstance(dt, ST) and set(dt.fieldNames()) >= {"start", "end"}
                and isinstance(dt["end"].dataType,
                               (TimestampType, TimestampNTZType))):
            return i
    return None


def _epoch_ms(ts, tz: str) -> int:
    """Epoch millis of a (possibly tz-naive, session-local) timestamp."""
    t = pd.Timestamp(ts)
    if t.tzinfo is None:
        t = t.tz_localize(tz)
    return t.value // 1_000_000


def _fold_columns(df: DataFrame, cols: list[str], evict_after) -> list[str]:
    """The input columns of a stateful fold: ``cols``, plus the input's
    event-time watermark column when eviction is on and none of ``cols``
    carries it. An event-time timeout needs the watermark below the fold,
    and projecting to plain keys and measures (idle-key eviction) would
    drop it; a window key derived from the event time already carries it."""
    if evict_after is None:
        return cols
    marked = [f.name for f in df.schema.fields
              if "spark.watermarkDelayMs" in f.metadata]
    if not marked or set(marked) & set(cols):
        return cols
    return [*cols, marked[0]]


def _eviction_horizon(key_fields, evict_after, tz: str):
    """The event-time timeout a stateful fold sets on a group after each
    update, as ``horizon(key, state) -> epoch ms``; None without
    ``evict_after``. A window struct key times out at ``window.end +
    evict_after``; any other key ``evict_after`` past the watermark at its
    last update (idle-key eviction)."""
    if evict_after is None:
        return None
    evict_ms = _interval_ms(evict_after)
    win_idx = _window_key_index(key_fields)

    def horizon(key, state: GroupState) -> int:
        if win_idx is not None:
            w = key[win_idx]
            end = (w["end"] if isinstance(w, dict)
                   else getattr(w, "end", None))
            if end is None:  # plain tuple (start, end)
                end = w[1]
            at = _epoch_ms(end, tz) + evict_ms
        else:
            at = max(state.getCurrentWatermarkMs(), 0) + evict_ms
        # EventTimeTimeout requires a strictly-future timestamp; a
        # window already past the watermark evicts on the next trigger.
        return max(at, state.getCurrentWatermarkMs() + 1)

    return horizon


def sketch_accumulate_stream(df: DataFrame, keys: list[str], col: str,
                             family: str, state_col: str = "state",
                             evict_after=None, **params) -> DataFrame:
    """Stateful streaming accumulate: ``groupBy(keys)`` +
    ``applyInPandasWithState`` keeping one serialized sketch per group.

    Emits ``(keys..., state, n)`` every trigger for every updated group
    (``n`` = rows folded in so far whose first ``col`` is neither null nor
    NaN). The state blob is the same wire format as batch accumulate —
    estimate/combine functions apply unchanged — and, as in batch, null
    while no valid row has reached the group.

    State eviction (``evict_after``): without it, state lives forever —
    fine for bounded key domains (an event-type dimension), a scale-killer
    for unbounded ones (event-time windows: every window ever seen would
    stay in the state store). With ``evict_after`` (interval string or
    seconds) the operator uses ``GroupStateTimeout.EventTimeTimeout`` —
    the input stream must carry a watermark
    (:func:`with_event_time_watermark`) — and drops a group's state once
    the watermark passes its horizon:

    * a ``F.window()`` struct key times out at ``window.end +
      evict_after`` — the window is complete (modulo allowed lateness)
      and its last emitted state is final;
    * otherwise the group times out ``evict_after`` past the watermark at
      its last update — idle-key eviction. The input's watermark column
      rides into the fold for this; a group last updated before the
      first watermark (the first trigger) times out at the first later
      trigger that brings it no rows.

    Rows arriving for an evicted group start a FRESH state (the
    within-watermark contract, same as ``dropDuplicatesWithinWatermark``):
    size ``evict_after`` to cover real event-time spread. State-store
    growth is then bounded by the keys active within the horizon instead
    of all keys ever seen.

    This is the one-measure form of :func:`sketch_accumulate_stream_multi`
    except for ``n`` and for the state row's field names (``blob``,
    ``n``), which existing checkpoints rely on."""
    first = col[0] if isinstance(col, tuple) else col
    return _keyed_fold(df, keys,
                       [state_measure(state_col, col, family, **params)],
                       evict_after, [state_col], ["blob"], count_col=first)


def sketch_accumulate_stream_multi(df: DataFrame, keys: list[str],
                                   measures, evict_after=None) -> DataFrame:
    """Stateful streaming accumulate over SEVERAL measures in one state
    store pass: one state row per group holding one serialized sketch
    per measure (the streaming twin of
    ``sketch_agg.sketch_partial_multi``). Emits
    ``(keys..., <name>__state ..., n)`` every trigger for updated
    groups, ``n`` = every row folded in so far; eviction semantics are
    identical to :func:`sketch_accumulate_stream` (``EventTimeTimeout``
    horizon from a window key's end, idle-key eviction otherwise).

    Compared with running one single-measure stream per metric this
    keeps ONE state store, one shuffle of the input, and one checkpoint
    lineage — at scale the difference between N stateful operators and
    one. States merge interchangeably with batch-built ones (same wire
    format), so the outputs can feed a ``SketchRollup`` directly."""
    ms = list(measures)
    state_cols = [f"{m.name}__state" for m in ms]
    return _keyed_fold(df, keys, ms, evict_after, state_cols, state_cols)


def _keyed_fold(df: DataFrame, keys: list[str], measures, evict_after,
                state_cols: list[str], blob_fields: list[str],
                count_col: str | None = None) -> DataFrame:
    """The keyed-accumulate fold behind both stream operators:
    ``groupBy(keys)`` + ``applyInPandasWithState`` keeping one serialized
    sketch per measure in a state row ``(blob_fields..., n)`` and
    emitting ``(keys..., state_cols..., n)`` per updated group. With
    ``count_col`` each batch first drops the rows where that column is
    null or NaN and ``n`` counts the rest; without it ``n`` counts every
    row.

    A (group, measure) sketch is made when the first valid row reaches
    it (``_Family.sketch_of``'s rule): until then its state is stored and
    emitted as null, as the batch path gives. A restored null blob is
    "no sketch yet"; a non-null one, incl. the empty states older
    checkpoints hold, is decoded and folded into as before."""
    fams = [(m, _family(m.family, **m.params)) for m in measures]
    src = df.select(*_fold_columns(df, _input_columns(keys, measures),
                                   evict_after))
    key_fields = [src.schema[k] for k in keys]
    out_schema = StructType(
        key_fields + [StructField(c, BinaryType()) for c in state_cols]
        + [StructField("n", LongType())])
    state_schema = StructType(
        [StructField(c, BinaryType()) for c in blob_fields]
        + [StructField("n", LongType())])
    horizon = _eviction_horizon(
        key_fields, evict_after,
        df.sparkSession.conf.get("spark.sql.session.timeZone"))

    def fold(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if horizon is not None and state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            *blobs, n = state.get
            sks = [None if b is None else deserialize_any(bytes(b))
                   for b in blobs]
        else:
            sks, n = [None] * len(fams), 0
        for pdf in pdfs:
            if count_col is not None:
                pdf = pdf.dropna(subset=[count_col])
            n += len(pdf)
            for j, (m, fam) in enumerate(fams):
                ctx = fam.prep(_measure_input(pdf, m))
                if sks[j] is None:
                    # no valid row yet: the state stays null
                    if not ctx[-1].any():
                        continue
                    sks[j] = fam.make()
                fam.update(sks[j], ctx, None)
        blobs = [None if sk is None else sk.serialize() for sk in sks]
        state.update((*blobs, n))
        if horizon is not None:
            state.setTimeoutTimestamp(horizon(key, state))
        row = {k: [v] for k, v in zip(keys, key)}
        for c, b in zip(state_cols, blobs):
            row[c] = [b]
        row["n"] = [n]
        yield pd.DataFrame(row)

    timeout = (GroupStateTimeout.EventTimeTimeout if horizon is not None
               else GroupStateTimeout.NoTimeout)
    return (src.groupBy(*keys)
            .applyInPandasWithState(fold, out_schema, state_schema,
                                    "update", timeout))


def streaming_summary_sink(df: DataFrame, keys: list[str], col: str,
                           family: str, path: str, checkpoint: str,
                           state_col: str = "state", **params):
    """foreachBatch pipeline: per micro-batch two-phase sketch aggregation
    appended to a parquet summary table (plus a ``batch_id`` column).
    Query-time: ``combine(state)`` over any key/batch subset — the
    reference's mergeable-summaries pattern, continuously maintained.
    Returns the DataStreamWriter (caller starts/stops it)."""

    def process(batch_df: DataFrame, batch_id: int):
        from pyspark.sql import functions as F
        summary = sketch_accumulate(batch_df, keys, col, family,
                                    state_col=state_col, **params)
        (summary.withColumn("batch_id", F.lit(batch_id))
                .write.mode("append").parquet(path))

    return (df.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint))


def session_distinct(df: DataFrame, keys: list[str], col: str,
                     event_time: str, gap: str,
                     delay: str | None = None,
                     lgk: int | None = None) -> DataFrame:
    """Per-SESSION approximate distinct counts — activity sessionization
    (events closer than ``gap`` chain into one session) with an NDV per
    (key, session), batch or streaming from the same call.

    Spark-first by necessity as well as taste: session windows MERGE as
    rows arrive (a new event can fuse two open sessions), so partial
    per-partition sketching keyed by a precomputed window — the engine's
    two-phase operator shape — cannot work; only the native
    ``session_window`` grouping knows how to merge partial sessions.
    The NDV inside each session therefore uses the JVM DataSketches HLL
    aggregate (``approx_count_distinct_hll``), which Spark unions
    correctly through session merges — exact through HLL's sparse phase.

    Streaming input: requires ``delay``; installs the NTZ-tolerant
    watermark and the caller runs append mode — a session emits exactly
    once, when the watermark passes its end (= last event + gap). State
    is one HLL per OPEN session, dropped at emission: bounded by live
    sessions, the right sessionization contract on an unbounded stream.

    Batch input: same expression over the same cast, so stream emissions
    match the batch result row-for-row (asserted in the test suite).

    Returns ``(session struct(start, end), *keys, ndv)``.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    from ..functions.distinctcnt import approx_count_distinct_hll
    src = df
    if df.isStreaming:
        if delay is None:
            raise ValueError("streaming session_distinct requires delay "
                             "(the watermark bound that closes sessions)")
        src = with_event_time_watermark(df, event_time, delay)
    elif isinstance(src.schema[event_time].dataType, TimestampNTZType):
        src = src.withColumn(event_time,
                             F.col(event_time).cast("timestamp"))
    sw = F.session_window(F.col(event_time), gap)
    return (src.groupBy(sw.alias("session"),
                        *[F.col(k) for k in keys])
            .agg(approx_count_distinct_hll(col, lgk=lgk).alias("ndv")))


def session_summaries(df: DataFrame, keys: list[str], col, event_time: str,
                      gap, family: str = "hll", delay: str | None = None,
                      state_col: str = "state", **params) -> DataFrame:
    """Gap-based sessionization carrying ENGINE sketch states — any
    family (hll / theta / quantile / freq / tuple / ...), batch or
    streaming from the same call. Where :func:`session_distinct` is
    bound to the JVM HLL aggregate (the only sketch Spark's native
    ``session_window`` can merge through session fusion), this operator
    runs the gap merge ITSELF so each (keys, session) row carries a
    serialized engine state the whole estimate/combine surface reads —
    e.g. per-session quantiles, or per-session tuple (count, sum)
    per-key summaries.

    Returns ``(keys..., session_start, session_end, state, n)`` with
    the session bounds as epoch-millis longs (``session_end`` = last
    event + gap, Spark's half-open session convention; epoch math runs
    JVM-side via ``unix_millis`` in BOTH paths, so batch and stream
    emissions are bit-comparable). ``col`` may be a (value, weight) /
    (key, value) tuple for the two-column families.

    Batch: a per-key PARTITIONED window (never global) assigns session
    ids from the gap rule, then one ``applyInPandas`` per session
    builds the state — sessions are bounded by the gap, so group memory
    is bounded regardless of corpus size.

    Streaming: ``groupBy(keys)`` + ``applyInPandasWithState`` holding
    the OPEN sessions of each key (interval-merged, sketches fused with
    the family's own merge — a late event can fuse two open sessions).
    Requires ``delay``; a session emits exactly ONCE, when the
    watermark passes ``last event + gap`` (append semantics like
    ``session_distinct``: state is bounded by live sessions, and rows
    for an already-closed session start a fresh one — the
    within-watermark contract)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    fam = _family(family, **params)
    gap_ms = _interval_ms(gap)
    in_cols = list(col) if isinstance(col, tuple) else [col]
    ts_ms = F.unix_millis(F.col(event_time).cast("timestamp"))

    key_src = df.select(*keys).schema
    out_schema = StructType(
        list(key_src.fields) + [
            StructField("session_start", LongType()),
            StructField("session_end", LongType()),
            StructField(state_col, BinaryType()),
            StructField("n", LongType()),
        ])

    def _update(sk, pdf: pd.DataFrame) -> int:
        if len(in_cols) > 1:
            vals = pdf[in_cols].dropna(subset=in_cols[:1])
        else:
            vals = pdf[in_cols[0]].dropna()
        fam.update_series(sk, vals)
        return len(vals)

    def _sessions_of(pdf: pd.DataFrame):
        """Split one key's (ts-sorted) rows into gap sessions; yields
        (start_ms, last_ms, sketch, n) tuples."""
        pdf = pdf.sort_values("_ts_ms", kind="mergesort")
        ts = pdf["_ts_ms"].to_numpy()
        if len(ts) == 0:
            return
        brk = ([0] + (np.flatnonzero(np.diff(ts) >= gap_ms) + 1).tolist()
               + [len(ts)])
        for a, b in zip(brk[:-1], brk[1:]):
            part = pdf.iloc[a:b]
            sk = fam.make()
            n = _update(sk, part)
            yield int(ts[a]), int(ts[b - 1]), sk, n

    if not df.isStreaming:
        src = df.select(*keys, ts_ms.alias("_ts_ms"), *in_cols) \
            .where(F.col("_ts_ms").isNotNull())
        w = Window.partitionBy(*keys).orderBy("_ts_ms")
        new_s = (F.when(F.col("_ts_ms") - F.lag("_ts_ms").over(w)
                        >= F.lit(gap_ms), 1)
                 .otherwise(0))
        sess = src.withColumn("_sid", F.sum(new_s).over(w))

        def batch_agg(pdf: pd.DataFrame) -> pd.DataFrame:
            sk = fam.make()
            n = _update(sk, pdf)
            row = {k: [pdf[k].iloc[0]] for k in keys}
            lo = int(pdf["_ts_ms"].min())
            hi = int(pdf["_ts_ms"].max())
            row["session_start"] = [lo]
            row["session_end"] = [hi + gap_ms]
            row[state_col] = [sk.serialize()]
            row["n"] = [n]
            return pd.DataFrame(row)

        return (sess.groupBy(*keys, "_sid")
                .applyInPandas(batch_agg, out_schema))

    if delay is None:
        raise ValueError("streaming session_summaries requires delay "
                         "(the watermark bound that closes sessions)")
    src = with_event_time_watermark(df, event_time, delay)
    src = src.select(*keys, F.col(event_time),
                     ts_ms.alias("_ts_ms"), *in_cols) \
        .where(F.col("_ts_ms").isNotNull())
    from pyspark.sql.types import ArrayType
    state_schema = StructType([
        StructField("starts", ArrayType(LongType())),
        StructField("lasts", ArrayType(LongType())),
        StructField("blobs", ArrayType(BinaryType())),
        StructField("ns", ArrayType(LongType())),
    ])

    def _emit(key, done):
        row = {k: [v] * len(done) for k, v in zip(keys, key)}
        row["session_start"] = [s for s, _, _, _ in done]
        row["session_end"] = [e + gap_ms for _, e, _, _ in done]
        row[state_col] = [b for _, _, b, _ in done]
        row["n"] = [n for _, _, _, n in done]
        return pd.DataFrame(row)

    def _save(state: GroupState, keep, wm: int):
        if not keep:
            state.remove()
            return
        keep.sort()
        state.update(([s for s, _, _, _ in keep],
                      [e for _, e, _, _ in keep],
                      [b for _, _, b, _ in keep],
                      [n for _, _, _, n in keep]))
        horizon = min(e for _, e, _, _ in keep) + gap_ms
        state.setTimeoutTimestamp(max(horizon, wm + 1))

    def fold(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        wm = max(state.getCurrentWatermarkMs(), 0)
        sessions = []
        if state.exists:
            starts, lasts, blobs, ns = state.get
            sessions = [(int(s), int(e), bytes(b), int(n))
                        for s, e, b, n in zip(starts, lasts, blobs, ns)]
        if state.hasTimedOut:
            done = [x for x in sessions if x[1] + gap_ms <= wm]
            keep = [x for x in sessions if x[1] + gap_ms > wm]
            _save(state, keep, wm)
            if done:
                yield _emit(key, sorted(done))
            return
        # NOTE on late data: Spark drops rows older than the event-time
        # watermark UPSTREAM of this operator (observed empirically on
        # this Spark: a whole file of sub-watermark rows reaches fold as
        # a timeout-only invocation), and getCurrentWatermarkMs() here
        # is the END-of-batch watermark — so no in-fold late filter is
        # needed or possible. Rows within `delay` of the max seen event
        # time merge correctly (including fusing two open sessions);
        # rows later than that never arrive (the within-watermark
        # contract, like dropDuplicatesWithinWatermark): size `delay`
        # to cover the stream's real event-time disorder.
        for pdf in pdfs:
            for s, e, sk, n in _sessions_of(pdf):
                # interval-merge into open sessions; events within gap
                # on EITHER side fuse (a bridge event fuses two)
                merged = (s, e, sk, n)
                rest = []
                for o in sessions:
                    if (merged[0] < o[1] + gap_ms
                            and o[0] < merged[1] + gap_ms):
                        osk = deserialize_any(o[2]) \
                            if isinstance(o[2], (bytes, bytearray)) else o[2]
                        msk = merged[2]
                        msk.merge(osk)
                        merged = (min(merged[0], o[0]),
                                  max(merged[1], o[1]), msk,
                                  merged[3] + o[3])
                    else:
                        rest.append(o)
                sessions = rest + [merged]
        # normalize sketches to bytes
        sessions = [(s, e, sk.serialize() if not isinstance(
            sk, (bytes, bytearray)) else bytes(sk), n)
            for s, e, sk, n in sessions]
        done = [x for x in sessions if x[1] + gap_ms <= wm]
        keep = [x for x in sessions if x[1] + gap_ms > wm]
        _save(state, keep, wm)
        if done:
            yield _emit(key, sorted(done))

    return (src.groupBy(*keys)
            .applyInPandasWithState(fold, out_schema, state_schema,
                                    "update",
                                    GroupStateTimeout.EventTimeTimeout))
