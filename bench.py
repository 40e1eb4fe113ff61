#!/usr/bin/env python
"""Benchmark harness — times every ``__spark_entry__.queries()`` entry.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]`` (default 32) and prints the JSON contract
line:

    {"metric": "total_query_wall_sec", "value": N, "unit": "sec",
     "queries": {"q01...": sec, ...}, "sf": 0.1, "controls": {...}}

When a query is flagged against the baseline, a second JSON line
``{"adjudication": {...}}`` follows, after the flagged queries are
re-measured (see :func:`_remeasure`).

Each query is executed once end-to-end (plan + execute + collect) after a
small warm-up job that absorbs one-time JVM/Arrow initialization, so the
per-query numbers reflect steady-state execution, not session startup.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time

import __spark_entry__ as entrymod
from datasketches_spark_spark.sources import session_builder


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = (session_builder(master=f"local[{cpus}]",
                             shuffle_partitions=cpus)
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "8g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    # Warm up the JVM and the Arrow/Python worker pool once so the first
    # query isn't charged for process startup: one task per core imports the
    # engine (numpy/pandas/sketches) inside the reused workers.
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def _warm(batches):
        import datasketches_spark_spark.operators  # noqa: F401 (worker warmup)
        import datasketches_spark_spark.sketches  # noqa: F401
        yield from batches

    warm = spark.range(cpus * 10).repartition(cpus)
    warm.mapInPandas(_warm, warm.schema).selectExpr("count(*)").collect()

    # Best-of-N per query: this box shows +-40% run-to-run noise, and
    # min-of-N is the standard way to report steady-state cost.
    # Best-of-3: this box intermittently charges a query ~5x its steady
    # state (python-worker/GC hiccups that can span two consecutive
    # attempts); three attempts make the reported number the steady-state
    # cost with high probability. See BASELINE.md "Engine baseline v2".
    timings: dict[str, float] = {}
    for name, fn in entrymod.queries().items():
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).collect()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            except Exception as e:  # keep benching remaining queries
                print(f"bench: {name} failed: {str(e)[:200]}", file=sys.stderr)
                break
        timings[name] = round(best, 3) if best is not None else -1.0

    _report(spark, sf_dir, timings, sf)
    spark.stop()


def _report(spark, sf_dir: str, timings: dict, sf) -> None:
    """Print the contract line, then adjudicate the flagged queries."""
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # The bench is self-defending against host-contention episodes: the
    # sweep is compared with a baseline (ENGINE_BASELINE.json when no
    # --compare/$SPARK_GRAFT_BASELINE is given) and normalized by the
    # control queries, and flagged queries are re-measured after the
    # sweep. The contract line (with the control evidence as the
    # additive "controls" key) is printed BEFORE any re-measure, so
    # nothing the re-measure does — an exception, a hang, a crash — can
    # suppress it; the adjudication follows as a second JSON line.
    base, flagged, extra = _load_baseline(), [], {}
    if base is not None:
        try:
            flagged, extra["controls"] = _compare(timings, total, base)
        except Exception as e:  # never let the watchdog kill the contract
            print(f"bench: baseline compare failed: {e}", file=sys.stderr)
    print(json.dumps({
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        **extra,
    }), flush=True)
    if flagged:
        try:
            re_t = _remeasure(spark, sf_dir, flagged, _REMEASURE_LIMIT_S)
            print(json.dumps({"adjudication":
                              _adjudicate(flagged, re_t, base)}), flush=True)
        except Exception as e:
            print(f"bench: adjudication pass failed: {e}", file=sys.stderr)


# Wall-clock limit of the re-measure pass. When it runs out, the running
# Spark jobs are cancelled and no further attempt starts; queries without
# a finished attempt are left out of the adjudication.
_REMEASURE_LIMIT_S = 600.0


def _remeasure(spark, sf_dir: str, flagged: list, limit_s: float) -> dict:
    """Best-of-3 re-run of every flagged query plus the controls, within
    ``limit_s`` seconds.

    In-run flag ADJUDICATION (r17): transient host-contention episodes on
    this box can inflate a CONSECUTIVE band of queries straight through
    best-of-3 (see BASELINE.md round-17 triage) — whole-run control
    medians cannot catch a 30-second episode. Re-measuring every flagged
    query (plus the controls for a fresh box factor) AFTER the sweep,
    when the episode has passed, tells box noise (the flag does not
    reproduce) from a real regression (it does)."""
    qs = entrymod.queries()
    redo = list(flagged) + [c for c in _CONTROL_QUERIES if c in qs]
    deadline = time.monotonic() + limit_s
    watchdog = threading.Timer(limit_s, spark.sparkContext.cancelAllJobs)
    watchdog.daemon = True
    watchdog.start()
    re_t = {}
    try:
        for name in redo:
            best = None
            for _ in range(3):
                if time.monotonic() >= deadline:
                    break
                t0 = time.perf_counter()
                try:
                    qs[name](spark, sf_dir).collect()
                    dt = time.perf_counter() - t0
                    best = dt if best is None else min(best, dt)
                except Exception:
                    break
            if best is not None:
                re_t[name] = round(best, 3)
    finally:
        watchdog.cancel()
    if time.monotonic() >= deadline:
        print(f"bench: re-measure stopped at its {limit_s:.0f} s limit",
              file=sys.stderr)
    return re_t


def _adjudicate(flagged: list, re_t: dict, base: dict) -> dict:
    base_q = base["queries"]
    cr = sorted(re_t[c] / base_q[c] for c in _CONTROL_QUERIES
                if base_q.get(c, 0) > 0 and re_t.get(c, 0) > 0)
    cf = max(cr[len(cr) // 2] if cr else 1.0, 1.0)
    out = {}
    for name in flagged:
        t, b = re_t.get(name), base_q.get(name)
        if not t or not b:
            continue
        norm = t / b / cf
        verdict = ("REPRODUCED (real regression)" if norm > 2.0
                   else "not reproduced (box episode)")
        out[name] = {"rerun_sec": t, "raw_ratio": round(t / b, 2),
                     "norm_ratio": round(norm, 2), "verdict": verdict}
        print(f"bench ADJUDICATION {name}: re-run {t}s = "
              f"{t / b:.2f}x raw, {norm:.2f}x control-normalized "
              f"-> {verdict}", file=sys.stderr)
    return out


# Box-drift controls: board queries untouched since their locks, spanning
# the three cost shapes (JVM agg via engine UDAF, stock-Spark JVM agg,
# pure Column expressions). Chosen per the r16 verdict protocol ask.
_CONTROL_QUERIES = ["q01_percentile_by_flag", "q07_ndv_hll",
                    "q20_textstats"]


def _load_baseline() -> dict | None:
    """The --compare / $SPARK_GRAFT_BASELINE baseline, parsed."""
    path = None
    if "--compare" in sys.argv:
        i = sys.argv.index("--compare") + 1
        path = sys.argv[i] if i < len(sys.argv) else None
    path = path or os.environ.get("SPARK_GRAFT_BASELINE")
    if not path:
        # r19: the committed engine baseline is the DEFAULT compare
        # target (round-18 verdict ask) — a driver run never passes
        # --compare, and without a baseline a contended sweep poisons
        # the round verdict invisibly.
        here = os.path.dirname(os.path.abspath(__file__))
        cand = os.path.join(here, "ENGINE_BASELINE.json")
        if os.path.exists(cand):
            path = cand
    if not path:
        return None
    try:
        with open(path) as fh:
            base = json.load(fh)
        base = base.get("parsed") or base
        base["_path"] = path
        return base
    except Exception as e:
        print(f"bench: cannot read baseline {path}: {e}",
              file=sys.stderr)
        return None


def _compare(timings: dict, total: float, base: dict) -> tuple:
    """Regression gate vs a recorded baseline (BASELINE.md engine table):
    ``--compare FILE.json`` / $SPARK_GRAFT_BASELINE / the committed
    ENGINE_BASELINE.json by default. Accepts either the driver's
    BENCH_r{N}.json (uses .parsed) or bench.py's own output. Report goes
    to stderr; stdout stays the one-line JSON contract. A query over 2x
    its control-normalized baseline is flagged, RE-MEASURED after the
    sweep (main's adjudication pass), and returned along with the
    control evidence dict; exit status is unchanged (the wall clock on
    this box is +-40% noisy - the flag is a review signal, not CI)."""
    path = base["_path"]
    base_q = base["queries"]
    # Control normalization (r17): this box drifts ±40-60% session to
    # session, which turns raw t/lock ratios into false regression
    # flags across the whole board. Three CONTROL queries whose bodies
    # have been untouched since their locks (pure-Spark shapes with no
    # engine code in the hot path) measure the BOX, not the engine;
    # per-query flags fire on the control-normalized ratio
    # (t / lock) / control_factor > 2. The raw ratio is still printed
    # so a genuinely slow box remains visible.
    controls = [c for c in _CONTROL_QUERIES
                if base_q.get(c, 0) > 0 and timings.get(c, 0) > 0]
    cratios = sorted(timings[c] / base_q[c] for c in controls)
    cf = cratios[len(cratios) // 2] if cratios else 1.0
    cf = max(cf, 1.0)   # a fast box never excuses a slow query
    print(f"bench controls {controls}: ratios "
          f"{[round(r, 2) for r in cratios]} -> factor {cf:.2f}",
          file=sys.stderr)
    flagged = []
    for name, t in timings.items():
        b = base_q.get(name)
        if b and b > 0 and t > 0:
            ratio = t / b
            norm = ratio / cf
            if norm > 2.0:
                flagged.append((name, b, t, ratio, norm))
    bt = base.get("value")
    print(f"bench compare vs {path}: total {bt}s -> {total}s "
          f"({total / bt:.2f}x raw, {total / bt / cf:.2f}x "
          f"control-normalized)" if bt
          else "bench compare: no baseline total",
          file=sys.stderr)
    for name, b, t, ratio, norm in sorted(flagged, key=lambda x: -x[4]):
        print(f"bench REGRESSION {name}: {b}s -> {t}s ({ratio:.2f}x raw, "
              f"{norm:.2f}x control-normalized > 2x)", file=sys.stderr)
    if not flagged:
        print("bench compare: no query above 2x control-normalized "
              "baseline", file=sys.stderr)
    controls = {
        "baseline": os.path.basename(path),
        "control_queries": controls,
        "control_ratios": {c: round(timings[c] / base_q[c], 3)
                           for c in controls},
        "factor": round(cf, 3),
        "total_ratio_raw": round(total / bt, 3) if bt else None,
        "flagged": [f[0] for f in flagged],
    }
    return [f[0] for f in flagged], controls


if __name__ == "__main__":
    main()
