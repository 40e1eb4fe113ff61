"""Per-layer metrics of a traced run, each named after the module it
measures. Totals over the traced loop are divided by its operation count
(``/op`` units); kernel rates, streaming medians, state sizes and process
peaks are reported as measured. A layer a workload does not run reads 0.
"""

from __future__ import annotations

import glob
import os
import pstats
import statistics
from collections import defaultdict

from . import eventlog, kernels, progress
from .trace import union_length

FAMILY_STEPS = {"update_rows_per_s": "rows/s", "merge_per_s": "1/s",
                "serialize_per_s": "1/s", "deserialize_per_s": "1/s",
                "estimate_per_s": "1/s", "state_bytes": "B"}

PER_LAYER = {
    "sources.scan_bytes": "B/op", "sources.scan_rows": "rows/op",
    "sources.scan_s": "s/op",
    "operators.sketch_agg.python_s": "s/op",
    "operators.sketch_agg.arrow_bytes_to_python": "B/op",
    "operators.sketch_agg.arrow_bytes_from_python": "B/op",
    "operators.sketch_agg.partial_state_rows": "rows/op",
    **{f"sketches.{f}.{s}": u for f in ("kll", "theta", "hll", "freq")
       for s, u in FAMILY_STEPS.items()},
    "sketches.update_python_s": "s/op",
    "sketches.rank_error_mean": "ratio", "sketches.ndv_rel_error_mean": "ratio",
    "functions.udfs.combine_python_s": "s/op",
    "functions.udfs.combine_rows_in": "rows/op",
    "functions.udfs.estimate_python_s": "s/op",
    "operators.rollup.build_s": "s/op", "operators.rollup.refresh_s": "s/op",
    "operators.rollup.compact_s": "s/op",
    "operators.rollup.query_plan_s": "s/op",
    "sql.plan_s": "s/op", "sql.fallbacks": "count",
    "spark.exchange.shuffle_write_bytes": "B/op",
    "spark.exchange.shuffle_read_bytes": "B/op",
    "spark.exchange.shuffle_records": "rows/op",
    "spark.exchange.spill_bytes": "B/op",
    "spark.exchange.fetch_wait_s": "s/op",
    "spark.executor.run_s": "s/op", "spark.executor.cpu_s": "s/op",
    "spark.executor.gc_s": "s/op", "spark.executor.tasks": "count/op",
    "spark.executor.task_skew": "ratio",
    "spark.scheduler.jobs": "count/op", "spark.scheduler.stages": "count/op",
    "driver.self_s": "s/op", "driver.collect_s": "s/op",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_update_ms": "ms",
    "streaming.state_removal_ms": "ms", "streaming.state_rows_total": "rows",
    "streaming.state_rows_removed": "rows",
    "streaming.state_memory_bytes": "B",
    "proc.jvm_peak_rss_mb": "MB", "proc.python_peak_rss_mb": "MB",
    "proc.python_workers": "count",
    "trace.overhead_ms": "ms",
}

_UPDATE_KERNELS = ("update_batch", "update_hashes")
_SKETCH_FILES = ("kll.py", "theta.py", "hll.py", "freq.py")


def _profiles(profile_dir: str) -> dict[str, float]:
    """Python seconds per UDF kind from the perf profiler's dumps, plus
    the time inside the sketch update kernels across all of them. (The
    profiler does not cover applyInPandasWithState, so the streaming fold
    has no Python time here.)"""
    out = defaultdict(float)
    for path in glob.glob(os.path.join(profile_dir, "*.pstats")):
        st = pstats.Stats(path)
        funcs = {(os.path.basename(fn), name) for fn, _l, name in st.stats}
        if ("sketch_agg.py", "build") in funcs:
            kind = "sketch_agg"
        elif ("udfs.py", "combine") in funcs:
            kind = "combine"
        else:
            kind = "estimate"
        out[kind] += st.total_tt
        for (fn, _l, name), (_cc, _nc, _tt, ct, _c) in st.stats.items():
            if name in _UPDATE_KERNELS and fn in _SKETCH_FILES:
                out["update"] += ct
    return out


def _proc_peaks(jvm_pid: int) -> dict[str, float]:
    """Peak RSS of the JVM and of the Python workers it forked."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                cmd = fh.read()
            with open(f"/proc/{d}/status") as fh:
                hwm = next((int(ln.split()[1]) for ln in fh
                            if ln.startswith("VmHWM:")), 0)
        except (OSError, ValueError, IndexError):
            continue
        procs[int(d)] = (ppid, cmd, hwm)
    kids = defaultdict(list)
    for pid, (ppid, _c, _h) in procs.items():
        kids[ppid].append(pid)
    tree, todo = [], list(kids[jvm_pid])
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo += kids[pid]
    py = [procs[p][2] for p in tree if b"python" in procs[p][1]]
    return {"proc.jvm_peak_rss_mb": procs.get(jvm_pid, (0, b"", 0))[2] / 1024,
            "proc.python_peak_rss_mb": max(py, default=0) / 1024,
            "proc.python_workers": float(len(py))}


def collect(ctx, res, untraced, table, profile_dir: str) -> dict:
    """Layer metrics that need the live session: UDF profiles, process
    peaks, streaming progress, spans and the kernel microbench."""
    spark, tr = ctx.spark, ctx.tracer
    spark.profile.dump(profile_dir, type="perf")
    prof = _profiles(profile_dir)
    ops = max(1, res.ops)
    m = {
        "operators.sketch_agg.python_s": prof["sketch_agg"] / ops,
        "sketches.update_python_s": prof["update"] / ops,
        "sketches.rank_error_mean":
            statistics.fmean(res.accuracy.rank_errors),
        "sketches.ndv_rel_error_mean":
            statistics.fmean(res.accuracy.ndv_rel_errors),
        "functions.udfs.combine_python_s": prof["combine"] / ops,
        "functions.udfs.estimate_python_s": prof["estimate"] / ops,
        "operators.rollup.build_s": tr.total("operators.rollup.build") / ops,
        "operators.rollup.refresh_s":
            tr.total("operators.rollup.refresh") / ops,
        "operators.rollup.compact_s":
            tr.total("operators.rollup.compact") / ops,
        "operators.rollup.query_plan_s":
            tr.total("operators.rollup.query_plan") / ops,
        "sql.plan_s": tr.total("sql.plan") / ops,
        "sql.fallbacks": float(res.fallbacks),
        "driver.collect_s": tr.total("driver.collect") / ops,
        "trace.overhead_ms": (statistics.median(res.op_ms)
                              - statistics.median(untraced.op_ms)),
    }
    m.update({f"streaming.{k}": v
              for k, v in progress.summarize(res.progress).items()})
    m.update(_proc_peaks(spark.sparkContext._gateway.proc.pid))
    from .workloads import KEYS
    m.update(kernels.microbench(table, KEYS))
    return m


def from_eventlog(log_dir: str, res, inputs: str) -> dict:
    """Layer metrics from the event log of the last session, over the
    traced loop's window."""
    logs = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    ev = eventlog.read(logs[-1], res.t0, res.t1, raw_prefixes=(inputs,))
    ops = max(1, res.ops)
    scan = ev["nodes"].get("scan.raw", {})
    mip = ev["nodes"].get("MapInPandas", {})
    agg = ev["nodes"].get("AggregateInPandas", {})
    jobs = [(max(s, res.t0), min(e, res.t1)) for s, e in ev["job_intervals"]]
    return {
        "sources.scan_bytes": scan.get("size of files read", 0.0) / ops,
        "sources.scan_rows": scan.get("number of output rows", 0.0) / ops,
        "sources.scan_s": scan.get("scan time", 0.0) / 1000.0 / ops,
        "operators.sketch_agg.arrow_bytes_to_python":
            mip.get("data sent to Python workers", 0.0) / ops,
        "operators.sketch_agg.arrow_bytes_from_python":
            mip.get("data returned from Python workers", 0.0) / ops,
        "operators.sketch_agg.partial_state_rows":
            mip.get("number of output rows", 0.0) / ops,
        "functions.udfs.combine_rows_in": agg.get("input rows", 0.0) / ops,
        "spark.exchange.shuffle_write_bytes":
            ev.get("shuffle_write_bytes", 0.0) / ops,
        "spark.exchange.shuffle_read_bytes":
            ev.get("shuffle_read_bytes", 0.0) / ops,
        "spark.exchange.shuffle_records": ev.get("shuffle_records", 0.0) / ops,
        "spark.exchange.spill_bytes": ev.get("spill_bytes", 0.0) / ops,
        "spark.exchange.fetch_wait_s": ev.get("fetch_wait_s", 0.0) / ops,
        "spark.executor.run_s": ev.get("run_s", 0.0) / ops,
        "spark.executor.cpu_s": ev.get("cpu_s", 0.0) / ops,
        "spark.executor.gc_s": ev.get("gc_s", 0.0) / ops,
        "spark.executor.tasks": ev.get("tasks", 0.0) / ops,
        "spark.executor.task_skew": ev["task_skew"],
        "spark.scheduler.jobs": ev["jobs"] / ops,
        "spark.scheduler.stages": ev["stages"] / ops,
        "driver.self_s": ((res.t1 - res.t0) - union_length(jobs)) / ops,
    }
