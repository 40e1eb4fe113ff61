"""Lifecycle benchmark of the datasketches_spark_spark engine.

Run from the root of a checkout::

    python3 perfbench/run.py --workload rollup_lifecycle --seed 1 --seconds 6 --trace 0

It generates (or reuses) the seeded inputs under ``.perfbench_cache/``,
starts ``local[N]`` Spark several times to time set-up, runs the workload
as a closed loop for ``--seconds``, checks every answer against the
exact oracle and prints one JSON line last. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the loop once untraced and once
traced (spans, event log, UDF profiler) and reports the per-layer
metrics. See perfbench/README.md for the metric definitions. Exits
non-zero when any operation fails or an answer breaks its contract.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

SETUPS = 3
MAX_CORES = 4   # local[N] with N = min(MAX_CORES, usable cores)

END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "op_p50_ms": "ms",
              "bytes_per_row": "B/row"}
# printed on the summary line but not in the result: too few samples (p90)
# or too few estimating answers (accuracy) to be steady from seed to seed;
# a traced run reports the accuracy means as sketches.* layer metrics
INFO = {"op_p90_ms": "ms", "rank_error_mean": "ratio",
        "ndv_rel_error_mean": "ratio"}

# the names each workload's end-to-end metrics go by in the summary line
SUMMARY_NAMES = {
    "rollup_lifecycle": {"rows_per_s": "ingest_rows_per_s",
                         "op_p50_ms": "query_p50_ms",
                         "op_p90_ms": "query_p90_ms",
                         "bytes_per_row": "rollup_bytes_per_row"},
    "rollup_ingest": {"rows_per_s": "ingest_rows_per_s",
                      "op_p50_ms": "append_p50_ms",
                      "op_p90_ms": "append_p90_ms",
                      "bytes_per_row": "rollup_bytes_per_row"},
    "rollup_query": {"rows_per_s": "answer_rows_per_s",
                     "op_p50_ms": "query_p50_ms",
                     "op_p90_ms": "query_p90_ms",
                     "bytes_per_row": "rollup_bytes_per_row"},
    "stream_windowed": {"rows_per_s": "stream_rows_per_s",
                        "op_p50_ms": "trigger_p50_ms",
                        "op_p90_ms": "trigger_p90_ms",
                        "bytes_per_row": "state_bytes_per_row"},
}


def _args(argv):
    from perfbench.workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def new_session(work: str, trace: bool):
    """A fresh local[N] session with the engine installed and the Python
    workers warm."""
    import datasketches_spark_spark as dss
    from datasketches_spark_spark.sources import session_builder
    from perfbench.progress import KEEP_PROGRESS
    n = _cores()
    b = (session_builder(master=f"local[{n}]", app="perfbench",
                         shuffle_partitions=n)
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.streaming.numRecentProgressUpdates",
                 str(KEEP_PROGRESS))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                 "-XX:-UsePerfData"))
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir",
                     "file://" + os.path.join(work, "eventlog")))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dss.install(spark)

    def warm(batches):
        import datasketches_spark_spark.operators  # noqa: F401
        import datasketches_spark_spark.streaming  # noqa: F401
        yield from batches

    df = spark.range(n * 4).repartition(n)
    df.mapInPandas(warm, df.schema).count()
    return spark


def shutdown(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _p90(vals) -> float:
    return float(statistics.quantiles(vals, n=10, method="inclusive")[8]) \
        if len(vals) > 1 else float(vals[0])


def end_to_end(setup_times, res) -> dict:
    return {
        "setup_s": statistics.median(setup_times),
        "rows_per_s": res.rows / res.busy_s,
        "op_p50_ms": statistics.median(res.op_ms),
        "bytes_per_row": statistics.median(res.bytes_per_row),
    }


def info(res) -> dict:
    v = res.accuracy
    return {"op_p90_ms": _p90(res.op_ms),
            "rank_error_mean": statistics.fmean(v.rank_errors),
            "ndv_rel_error_mean": statistics.fmean(v.ndv_rel_errors)}


def main(argv=None) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "datasketches_spark_spark",
                                       "__init__.py")):
        print("perfbench: run from the root of a checkout holding "
              "datasketches_spark_spark/", file=sys.stderr)
        return 2
    sys.path[:0] = [root]
    args = _args(argv)
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    try:
        return _run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root: str, work: str) -> int:
    from perfbench import gen, layers
    from perfbench.oracle import Oracle
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    inputs = gen.cached_inputs(args.workload, args.seed,
                               os.path.join(root, ".perfbench_cache"))
    table = gen.read_events(inputs)
    setup, warmup, measure = WORKLOADS[args.workload]
    trace = bool(args.trace)

    oracle = Oracle(table)
    setup_times, spark = [], None
    try:
        for i in range(SETUPS):
            t0 = time.perf_counter()
            spark = new_session(work, trace)
            ctx = Ctx(spark, Tracer(False), inputs, work, oracle, args.seed)
            setup(ctx)
            setup_times.append(time.perf_counter() - t0)
            if i < SETUPS - 1:
                spark.stop()
        warm = warmup(ctx)
        if trace:
            untraced = measure(ctx, args.seconds / 2)
            ctx.tracer = Tracer(True)
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            res = measure(ctx, args.seconds)
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
            metrics = layers.collect(ctx, res, untraced, table,
                                     os.path.join(work, "profile"))
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            ctx.tracer.dump(os.path.join(
                out_dir, f"{args.workload}-s{args.seed}-spans.jsonl"))
            runs = (warm, untraced, res)
        else:
            res = measure(ctx, args.seconds)
            metrics = end_to_end(setup_times, res)
            runs = (warm, res)
        attempted = sum(r.attempted for r in runs)
        failed = sum(r.failed for r in runs)
        problems = [p for r in runs for p in r.problems]
    finally:
        if spark is not None:
            shutdown(spark)
    if trace:
        metrics.update(layers.from_eventlog(
            os.path.join(work, "eventlog"), res, inputs))
    for p in problems[:20]:
        print(f"FAILED {p}", file=sys.stderr)
    if not trace:
        names = SUMMARY_NAMES[args.workload]
        units = {**END_TO_END, **INFO}
        line = ", ".join(f"{names.get(k, k)}={v:.6g} {units[k]}"
                         for k, v in {**metrics, **info(res)}.items())
        print(f"{args.workload} seed={args.seed} ops={res.ops}: "
              f"{line}, failed_op_share={failed / max(1, attempted):.3g} "
              f"({failed}/{attempted})")
        out = {k: {"value": v, "unit": END_TO_END[k]}
               for k, v in metrics.items()}
    else:
        out = {k: {"value": v, "unit": layers.PER_LAYER[k]}
               for k, v in metrics.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
