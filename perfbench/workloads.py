"""The benchmark workloads, each a closed loop of one client.

* ``rollup_lifecycle``: one ``rollup_ingest`` cycle, then ``rollup_query``
  queries against the rollup that cycle compacted.
* ``rollup_ingest``: cycles of ``SketchRollup.build`` over chunk 0, one
  ``refresh`` per further chunk, then ``compact``; an operation is one of
  those calls.
* ``rollup_query``: a seeded sequence of re-grouping queries against a
  rollup built at set-up, alternating ``SketchRollup.estimate`` and
  ``dss.sql``; an operation is one query, planned and collected.
* ``stream_windowed``: ``sketch_accumulate_stream_multi`` over daily
  windows with a watermark and ``evict_after``, replaying one segment of
  time-ordered files per query (``maxFilesPerTrigger=1``,
  ``availableNow``); an operation is one trigger.

Every answer is kept and checked against the oracle after the timed loop.
"""

from __future__ import annotations

import functools
import os
import shutil
import threading
import time
import warnings
from dataclasses import dataclass, field

import numpy as np

from . import gen, progress
from .oracle import HLL_LGK, KLL_K, THETA_K, Answer, Oracle, Verdict
from .trace import Tracer

KEYS = ["day", "tenant"]
# the proper re-groupings of (day, tenant); the full key, whose answers are
# several times as large, is checked once per ingest cycle instead, so
# query latencies stay close enough for a steady median of a dozen
QUERY_SHAPES = [["tenant"], ["day"], []]
QUERY_CYCLE = 2 * len(QUERY_SHAPES)   # every shape through both APIs
QUANTILE_PS = (0.5, 0.9, 0.99)
ACCURACY_QUERIES = 2 * QUERY_CYCLE   # queries feeding the accuracy means
QUERY_DAYS = 7           # every query covers 7 consecutive days
INGEST_CYCLES = 2        # build/refresh/compact cycles per timed loop
OP_TIMEOUT_S = 60.0
STREAM_TIMEOUT_S = 120.0


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    inputs: str          # generated input directory
    work: str            # working directory of this run
    oracle: Oracle
    seed: int
    state: dict = field(default_factory=dict)   # built at set-up


@dataclass
class Result:
    """What one timed phase did."""
    op_ms: list = field(default_factory=list)    # latencies behind op_p50_ms
    ops: int = 0                 # timed operations, the base of /op metrics
    rows: int = 0
    busy_s: float = 0.0          # wall time of the work counted in rows
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    bytes_per_row: list = field(default_factory=list)
    accuracy: Verdict = field(default_factory=Verdict)
    fallbacks: int = 0
    progress: list = field(default_factory=list)
    t0: float = 0.0
    t1: float = 0.0

    def add(self, v: Verdict, what: str, accuracy: bool) -> bool:
        """Record a check; ``accuracy`` adds its errors to the accuracy
        means, which use a fixed, seed-determined set of answers."""
        if accuracy:
            self.accuracy.rank_errors += v.rank_errors
            self.accuracy.ndv_rel_errors += v.ndv_rel_errors
        self.problems += [f"{what}: {p}" for p in v.problems[:5]]
        return not v.problems


def _conf(spark) -> dict:
    c = spark.conf.getAll
    return dict(c() if callable(c) else c)


def _op(ctx: Ctx, res: Result, name: str, fn, timed: bool = True):
    """Run one operation: count it, time it, fail it if it raises, runs
    past OP_TIMEOUT_S (its jobs are cancelled) or changes session conf."""
    spark = ctx.spark
    before = _conf(spark)
    timer = threading.Timer(OP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    out, ok = None, True
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span("op", op=name):
            out = fn()
    except Exception as e:  # any engine error fails the op, not the run
        ok = False
        res.problems.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
    finally:
        timer.cancel()
    dt = time.perf_counter() - t0
    after = _conf(spark)
    if after != before:
        ok = False
        diff = sorted(set(before.items()) ^ set(after.items()))
        res.problems.append(f"{name}: session conf changed: {diff[:4]}")
    res.attempted += 1
    res.failed += not ok
    if timed:
        res.ops += 1
        res.op_ms.append(dt * 1000.0)
    return out, ok, dt


def measures(p: float = 0.5):
    """The four rollup measures; the freq estimator returns the items and
    the sketch's maximum error."""
    from pyspark.sql import functions as F

    from datasketches_spark_spark.functions.freqitems import (
        approx_freqitems_estimate, approx_freqitems_maxerr)
    from datasketches_spark_spark.operators.sketch_agg import (
        distinct_measure, freqitems_measure, percentile_measure)
    freq = freqitems_measure("items", "item")
    freq.estimator = lambda c: F.struct(
        approx_freqitems_estimate(c).alias("items"),
        approx_freqitems_maxerr(c).alias("max_err"))
    return [percentile_measure("v_kll", "value", p, impl="KLL", k=KLL_K),
            distinct_measure("u_theta", "user_id", k=THETA_K),
            distinct_measure("u_hll", "user_id", impl="hll", lgk=HLL_LGK),
            freq]


def _freq_items(sk) -> tuple[list, int]:
    """Reported items and maximum error of a decoded freq sketch (the
    value ``approx_freqitems_maxerr`` returns)."""
    return sk.frequent_items(), int(sk._max_err)


def _answer(row, keys: list[str], p: float) -> Answer:
    d = row.asDict()
    items = d["items"]
    if isinstance(items, (bytes, bytearray)):   # dss.sql returns the state
        from datasketches_spark_spark.sketches import deserialize_any
        pairs, max_err = _freq_items(deserialize_any(bytes(items)))
    else:
        pairs = [(r["item"], r["estimated"]) for r in items["items"]]
        max_err = items["max_err"]
    return Answer(tuple(d[k] for k in keys), p, d["v_kll"], d["u_theta"],
                  d["u_hll"], pairs, max_err)


def _parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def _timed_loop(seconds: float, step, min_steps: int = 1,
                multiple: int = 1) -> None:
    """Closed loop: call ``step(i)`` until ``seconds`` have passed, at
    least ``min_steps`` steps have run and the step count is a multiple of
    ``multiple`` (so every run has the same mix of operations)."""
    t_end = time.perf_counter() + seconds
    i = 0
    while i < min_steps or i % multiple or time.perf_counter() < t_end:
        step(i)
        i += 1


# ----------------------------------------------------------- rollup_ingest

def _chunks(ctx: Ctx) -> list[str]:
    return sorted(f[:-len(".parquet")] for f in os.listdir(ctx.inputs)
                  if f.startswith("chunk"))


def ingest_setup(ctx: Ctx) -> None:
    """Nothing to build: every cycle starts from an empty rollup."""


def ingest_measure(ctx: Ctx, seconds: float,
                   min_cycles: int = INGEST_CYCLES) -> Result:
    from datasketches_spark_spark.operators.rollup import SketchRollup
    from datasketches_spark_spark.sources import read_table
    spark, tr = ctx.spark, ctx.tracer
    res = Result(t0=time.time())
    parts = len(_chunks(ctx))
    total_rows = ctx.oracle.day.size
    last = None

    def cycle(i):
        nonlocal last
        path = os.path.join(ctx.work, f"ingest_{i}")
        r = SketchRollup(path, KEYS, measures())
        spent = 0.0
        for c in range(parts):
            def call(c=c):
                df = read_table(spark, ctx.inputs, f"chunk{c}")
                if c == 0:
                    with tr.span("operators.rollup.build"):
                        r.build(df)
                else:
                    with tr.span("operators.rollup.refresh"):
                        r.refresh(df)
            spent += _op(ctx, res, "build" if c == 0 else "refresh", call)[2]

        def compact():
            with tr.span("operators.rollup.compact"):
                r.compact(spark)
        spent += _op(ctx, res, "compact", compact)[2]
        res.rows += total_rows
        res.busy_s += spent
        res.bytes_per_row.append(_parquet_bytes(path) / total_rows)
        if last is not None:
            shutil.rmtree(last, ignore_errors=True)
        last = path
        ctx.state["rollup"] = r

    _timed_loop(seconds, cycle, min_cycles)
    res.t1 = time.time()
    # verify every (day, tenant) group of the last compacted rollup
    # (re-grouping queries are rollup_query's work)
    r = ctx.state["rollup"]
    lo, hi = int(ctx.oracle.day.min()), int(ctx.oracle.day.max())
    rows, ok, _ = _op(ctx, res, "verify", lambda: r.estimate(
        spark, group_by=KEYS).collect(), timed=False)
    if ok:
        v = ctx.oracle.check(KEYS, lo, hi,
                             [_answer(row, KEYS, 0.5) for row in rows])
        res.failed += not res.add(v, "verify", accuracy=True)
    return res


def ingest_warmup(ctx: Ctx) -> Result:
    """One untimed build over all chunks, so the timed loop starts warm;
    the result is a complete rollup, which the lifecycle's warm-up
    queries."""
    from datasketches_spark_spark.operators.rollup import SketchRollup
    from datasketches_spark_spark.sources import read_table
    res = Result()
    r = SketchRollup(os.path.join(ctx.work, "warmup"), KEYS, measures())
    dfs = [read_table(ctx.spark, ctx.inputs, c) for c in _chunks(ctx)]
    _op(ctx, res, "warmup", lambda: r.build(
        functools.reduce(lambda a, b: a.unionByName(b), dfs)), timed=False)
    ctx.state["rollup"] = r
    return res


# ------------------------------------------------------------ rollup_query

def query_setup(ctx: Ctx) -> None:
    from datasketches_spark_spark.operators.rollup import SketchRollup
    from datasketches_spark_spark.sources import read_table
    path = os.path.join(ctx.work, "query_rollup")
    r = SketchRollup(path, KEYS, measures())
    r.build(read_table(ctx.spark, ctx.inputs, "events"))
    ctx.state["rollup"] = r


def _sql_text(path: str, keys: list[str], lo: int, hi: int, p: float) -> str:
    head = "".join(f"{k}, " for k in keys)
    group = f" GROUP BY {', '.join(keys)}" if keys else ""
    return (
        f"SELECT {head}"
        f"approx_percentile_estimate(approx_percentile_combine(v_kll__state),"
        f" {p}) AS v_kll, "
        "approx_count_distinct_estimate("
        "approx_count_distinct_combine(u_theta__state)) AS u_theta, "
        "approx_count_distinct_estimate("
        "approx_count_distinct_combine(u_hll__state)) AS u_hll, "
        "approx_freqitems_combine(items__state) AS items "
        f"FROM parquet.`{path}` WHERE day BETWEEN {lo} AND {hi}{group}")


def query_measure(ctx: Ctx, seconds: float,
                  min_queries: int = ACCURACY_QUERIES,
                  multiple: int = QUERY_CYCLE) -> Result:
    import datasketches_spark_spark as dss
    from datasketches_spark_spark.operators.rollup import SketchRollup
    from datasketches_spark_spark.sql import SketchSqlFallbackWarning
    from pyspark.sql import functions as F
    spark, tr = ctx.spark, ctx.tracer
    rollup = ctx.state["rollup"]
    days = int(ctx.oracle.day.max()) + 1
    rng = np.random.default_rng([ctx.seed, 7])
    res = Result(t0=time.time())
    pending = []

    def query(i):
        # shapes repeat every 3 queries and APIs every 2, so every
        # QUERY_CYCLE queries run each (shape, API) pair once
        keys = QUERY_SHAPES[i % len(QUERY_SHAPES)]
        via_estimate = i % 2 == 0
        lo = int(rng.integers(0, days - QUERY_DAYS + 1))
        hi = lo + QUERY_DAYS - 1
        p = float(rng.choice(QUANTILE_PS))

        def run():
            if via_estimate:
                r = SketchRollup(rollup.path, KEYS, measures(p))
                with tr.span("operators.rollup.query_plan"):
                    df = r.estimate(spark, group_by=keys,
                                    where=F.col("day").between(lo, hi))
            else:
                with warnings.catch_warnings(record=True) as caught:
                    warnings.simplefilter("always", SketchSqlFallbackWarning)
                    with tr.span("sql.plan"):
                        df = dss.sql(spark, _sql_text(rollup.path, keys,
                                                      lo, hi, p))
                res.fallbacks += sum(issubclass(w.category,
                                                SketchSqlFallbackWarning)
                                     for w in caught)
            with tr.span("driver.collect"):
                return df.collect()

        rows, ok, dt = _op(ctx, res, "query", run)
        res.busy_s += dt
        if ok:
            res.rows += len(rows)
            pending.append((keys, lo, hi, p, rows))
        else:
            pending.append(None)

    _timed_loop(seconds, query, min_queries, multiple)
    res.t1 = time.time()
    for i, item in enumerate(pending):
        if item is None:
            continue
        keys, lo, hi, p, rows = item
        v = ctx.oracle.check(keys, lo, hi, [_answer(r, keys, p) for r in rows])
        res.failed += not res.add(v, f"query {keys} days {lo}-{hi}",
                                  accuracy=i < ACCURACY_QUERIES)
    res.bytes_per_row.append(_parquet_bytes(rollup.path) / ctx.oracle.day.size)
    return res


def query_warmup(ctx: Ctx) -> Result:
    """One untimed query through each API."""
    return query_measure(ctx, 0, min_queries=2, multiple=1)


# -------------------------------------------------------- rollup_lifecycle

def _then(ingest: Result, query: Result) -> Result:
    """The lifecycle's result: throughput and rollup size from the ingest
    cycle, latency from the queries, every check from both. Its traced
    window runs from the first ingest call to the last query, so it also
    holds the check of the compacted rollup between them."""
    acc = Verdict(ingest.accuracy.rank_errors + query.accuracy.rank_errors,
                  ingest.accuracy.ndv_rel_errors
                  + query.accuracy.ndv_rel_errors)
    return Result(op_ms=query.op_ms, ops=ingest.ops + query.ops,
                  rows=ingest.rows, busy_s=ingest.busy_s,
                  attempted=ingest.attempted + query.attempted,
                  failed=ingest.failed + query.failed,
                  problems=ingest.problems + query.problems,
                  bytes_per_row=ingest.bytes_per_row, accuracy=acc,
                  fallbacks=query.fallbacks, t0=ingest.t0, t1=query.t1)


def lifecycle_warmup(ctx: Ctx) -> Result:
    """The ingest warm-up build, then one checked query through each API
    against it."""
    return _then(ingest_warmup(ctx), query_warmup(ctx))


def lifecycle_measure(ctx: Ctx, seconds: float) -> Result:
    """One build/refresh/compact cycle, then queries against its rollup;
    each phase runs for at least half of ``seconds``."""
    ingest = ingest_measure(ctx, seconds / 2, min_cycles=1)
    return _then(ingest, query_measure(ctx, seconds / 2))


# --------------------------------------------------------- stream_windowed

def stream_setup(ctx: Ctx) -> None:
    segs = sorted(d for d in os.listdir(ctx.inputs) if d.startswith("seg"))
    first = os.path.join(ctx.inputs, segs[0])
    ctx.state["segments"] = segs
    ctx.state["schema"] = ctx.spark.read.parquet(first).schema


def stream_measure(ctx: Ctx, seconds: float, warm: bool = False) -> Result:
    from pyspark.sql import functions as F

    from datasketches_spark_spark.sketches import deserialize_any
    from datasketches_spark_spark.streaming.sketch_stream import (
        await_or_fail, sketch_accumulate_stream_multi,
        with_event_time_watermark)
    spark, tr = ctx.spark, ctx.tracer
    segs = ["warm"] if warm else ctx.state["segments"]
    schema = ctx.state["schema"]
    res = Result(t0=time.time())
    run_id = ctx.state.setdefault("stream_runs", 0)
    ctx.state["stream_runs"] += 1
    seg_days = gen.STREAM_SEGMENT_DAYS
    day0 = np.datetime64(gen.EPOCH_US, "us")

    def segment(i):
        k = i % len(segs)
        src = os.path.join(ctx.inputs, segs[k])
        files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
        name = f"stream_{run_id}_{i}"
        ck = os.path.join(ctx.work, f"ck_{name}")
        sdf = spark.readStream.schema(schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        sdf = with_event_time_watermark(sdf, "ts", "1 hour") \
            .withColumn("window", F.window("ts", "1 day"))
        out = sketch_accumulate_stream_multi(
            sdf, ["window", "tenant"], measures(), evict_after="1 hour")
        before = _conf(spark)
        t0 = time.perf_counter()
        with tr.span("streaming.query"):
            q = (out.writeStream.outputMode("update").format("memory")
                 .queryName(name).option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            try:
                await_or_fail(q, STREAM_TIMEOUT_S)
                err = None
            except Exception as e:  # stream failure or timeout
                err = f"{type(e).__name__}: {str(e)[:300]}"
            res.busy_s += time.perf_counter() - t0
            recs = progress.records(q)
            for r in recs:
                start = progress.start_s(r)
                tr.record("streaming.trigger", start,
                          start + progress.trigger_ms(r) / 1000.0)
        if err is None and _conf(spark) != before:
            err = "session conf changed"
        res.progress += recs
        data = [r for r in recs if r.get("numInputRows", 0) > 0]
        res.ops += len(recs)
        for r in recs:
            res.op_ms.append(progress.trigger_ms(r))
        res.attempted += files + len(recs) - len(data)
        res.failed += max(0, files - len(data))
        if files > len(data):
            res.problems.append(f"{name}: {files - len(data)} trigger "
                                "records missing")
        res.rows += sum(r["numInputRows"] for r in data)
        if warm:
            spark.catalog.dropTempView(name)
            return
        # verify: the last emitted state of every (window, tenant) group
        res.attempted += 1
        if err is not None:
            res.failed += 1
            res.problems.append(f"{name}: {err}")
            return
        final = {}
        for row in spark.table(name).collect():
            key = (row["window"]["start"], row["tenant"])
            if key not in final or row["n"] > final[key]["n"]:
                final[key] = row
        spark.catalog.dropTempView(name)
        answers, blob_bytes, count_bad = [], 0, 0
        lo, hi = k * seg_days, k * seg_days + seg_days - 1
        groups = ctx.oracle.groups(KEYS, lo, hi)
        for (start, tenant), row in final.items():
            day = int((np.datetime64(start, "us") - day0)
                      // np.timedelta64(1, "D"))
            sks = [deserialize_any(bytes(row[f"{m}__state"]))
                   for m in ("v_kll", "u_theta", "u_hll", "items")]
            blob_bytes += sum(len(row[f"{m}__state"])
                              for m in ("v_kll", "u_theta", "u_hll", "items"))
            rows = groups.get(ctx.oracle.key_code(KEYS, (day, tenant)))
            if rows is None or rows.size != row["n"]:
                count_bad += 1
            for p in QUANTILE_PS:
                answers.append(Answer(
                    (day, tenant), p, sks[0].quantile(p), sks[1].estimate(),
                    sks[2].estimate(), *_freq_items(sks[3])))
        v = ctx.oracle.check(KEYS, lo, hi, answers)
        if count_bad:
            v.problems.append(f"{count_bad} groups with a wrong row count")
        res.failed += not res.add(v, name, accuracy=i == 0)
        res.bytes_per_row.append(blob_bytes / max(1, sum(
            r.size for r in groups.values())))

    _timed_loop(seconds, segment)
    res.t1 = time.time()
    return res


def stream_warmup(ctx: Ctx) -> Result:
    """An untimed replay of the first file of the stream."""
    return stream_measure(ctx, 0, warm=True)


WORKLOADS = {   # name: (set-up, warm-up, timed loop)
    "rollup_lifecycle": (ingest_setup, lifecycle_warmup, lifecycle_measure),
    "rollup_ingest": (ingest_setup, ingest_warmup, ingest_measure),
    "rollup_query": (query_setup, query_warmup, query_measure),
    "stream_windowed": (stream_setup, stream_warmup, stream_measure),
}
