#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and the matching
``oracle_sql()`` on DuckDB over the same parquet tables, then compares
row count, column names, and order-insensitive values (columns sorted by
name, rows sorted by string repr — approximating the driver's value-hash).

A query that leaves session config changed after its collect fails
too, naming the keys (compared with ``spark.conf.getAll`` snapshots).

Usage: python verify_local.py [sf_dir] [query_name ...]
       python verify_local.py --repeat [sf_dir] [query_name ...]

``--repeat`` is the hash-STABILITY audit (round-10 verdict item #2):
every query runs twice in one session, then once more in a FRESH
session configured with a different partition layout (different
shuffle-partition count and a tiny
``rangeExchange.sampleSizePerPartition`` so RangePartitioner sampling
engages). The three normalized value sets must be identical — any
operator whose output depends on partition layout, RNG seeding, or
float summation order fails here before the driver's gate sees it
(the round-9 q26 class).
"""

from __future__ import annotations

import math
import sys

import duckdb

import __spark_entry__ as entrymod
from datasketches_spark_spark.sources import TABLE_NAMES, session_builder


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    cols_sorted = [cols[i] for i in order]
    data = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    return cols_sorted, data


def _conf_diff(before, after):
    """The session config keys whose value differs between two
    ``spark.conf.getAll`` snapshots, as ``key: before -> after`` (None
    for unset)."""
    return [f"{k}: {before.get(k)} -> {after.get(k)}"
            for k in sorted(before.keys() | after.keys())
            if before.get(k) != after.get(k)]


def _repeat_audit(sf_dir, only):
    """Run every query 2× in session A + 1× in a differently-laid-out
    session B; fail any query whose normalized values differ."""
    queries = entrymod.queries()
    names = [n for n in queries if not only or n in only]

    def run_all(spark):
        out = {}
        for name in names:
            try:
                sdf = queries[name](spark, sf_dir)
                out[name] = _normalize(sdf.columns, sdf.collect())
            except Exception as e:  # noqa: BLE001 — audit must keep going
                out[name] = ("ERR", str(e)[:200])
        return out

    def session(shuffle, sample):
        b = (session_builder(master="local[8]", shuffle_partitions=shuffle)
             .config("spark.ui.enabled", "false")
             .config("spark.sql.execution.rangeExchange."
                     "sampleSizePerPartition", str(sample)))
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        # getOrCreate reuses a stopped-then-rebuilt context but configs
        # passed above are session-level; force the sample size live
        spark.conf.set("spark.sql.execution.rangeExchange."
                       "sampleSizePerPartition", str(sample))
        return spark

    spark = session(8, 20)
    run1 = run_all(spark)
    run2 = run_all(spark)
    spark.stop()
    spark = session(13, 15)
    run3 = run_all(spark)
    spark.stop()

    n_pass = n_fail = 0
    for name in names:
        trio = [run1[name], run2[name], run3[name]]
        errs = [t for t in trio if t and t[0] == "ERR"]
        if errs:
            print(f"FAIL {name}: error during audit: {errs[0][1]}")
            n_fail += 1
        elif trio[0] == trio[1] == trio[2]:
            print(f"STABLE {name}: {len(trio[0][1])} rows × 3 runs identical")
            n_pass += 1
        else:
            which = ("run1!=run2 (in-session)" if trio[0] != trio[1]
                     else "run1!=run3 (cross-session layout)")
            a, b = (trio[0], trio[1]) if trio[0] != trio[1] else (
                trio[0], trio[2])
            if len(a[1]) != len(b[1]):
                sa, sb = set(a[1]), set(b[1])
                diffs = (f"row counts {len(a[1])} vs {len(b[1])}; "
                         f"only-in-first: {sorted(sa - sb)[:2]}; "
                         f"only-in-second: {sorted(sb - sa)[:2]}")
            else:
                diffs = [(x, y) for x, y in zip(a[1], b[1]) if x != y][:2]
            print(f"FLAKY {name}: {which}; first diffs: {diffs}")
            n_fail += 1
    print(f"\nstability: {n_pass} stable, {n_fail} flaky/error")
    sys.exit(1 if n_fail else 0)


def main():
    argv = sys.argv[1:]
    repeat = "--repeat" in argv
    argv = [a for a in argv if a != "--repeat"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    unknown = sorted(only - set(entrymod.queries()))
    if unknown:
        sys.exit(f"unknown query name(s) {unknown}: give full names, "
                 "such as q16_ngram_topk")
    if repeat:
        _repeat_audit(sf_dir, only)
        return

    spark = (session_builder(master="local[8]", shuffle_partitions=8)
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        conf_before = spark.conf.getAll
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:200]}")
            n_fail += 1
            continue
        leaked = _conf_diff(conf_before, spark.conf.getAll)
        if leaked:
            print(f"FAIL {name}: session config left changed: {leaked}")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"rows-only {name}: {len(srows)} rows (no oracle)")
            continue
        # The driver canonicalizes via pandas sort_values over all columns,
        # which cannot factorize list/map/struct cells (CORRECTNESS_r03
        # q32/q33/q35 err) — fail loudly here on any nested result type.
        nested = [f.name for f in sdf.schema.fields
                  if f.dataType.typeName() in ("array", "map", "struct")]
        if nested:
            print(f"FAIL {name}: nested result columns {nested} would break "
                  "the driver's pandas canonicalizer — flatten them")
            n_fail += 1
            continue
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:200]}")
            n_fail += 1
            continue
        # Driver-parity dtype check (round-12 root cause of the q26/q21
        # reds): the driver compares AFTER pandas conversion, where
        # DuckDB HUGEINT (any sum over integers) becomes float64 while
        # Spark's non-null bigint stays int64 — "89" vs "89.0" hash
        # mismatch with identical values. Model Spark's toPandas kind
        # from schema + observed nulls; re-run the oracle through .df().
        try:
            okinds = {c: con.execute(sql).df()[c].dtype.kind
                      for c in ocols}
            skinds = {}
            for i, f in enumerate(sdf.schema.fields):
                t = f.dataType.typeName()
                has_null = any(r[i] is None for r in srows)
                if t in ("byte", "short", "integer", "long"):
                    skinds[f.name] = "f" if has_null else "i"
                elif t in ("float", "double", "decimal"):
                    skinds[f.name] = "f"
                elif t == "boolean":
                    skinds[f.name] = "O" if has_null else "b"
                else:
                    skinds[f.name] = "O"
            kind_bad = [c for c in skinds
                        if okinds.get(c) is not None
                        and skinds[c] != okinds[c]]
            if kind_bad:
                print(f"FAIL {name}: pandas-dtype divergence (driver "
                      f"compares post-pandas): "
                      + "; ".join(f"{c}: spark {skinds[c]} vs oracle "
                                  f"{okinds[c]}" for c in kind_bad))
                n_fail += 1
                continue
        except Exception as e:  # noqa: BLE001 — dtype check best-effort
            print(f"WARN {name}: dtype check errored: {str(e)[:120]}")
        sc, sv = _normalize(scols, srows)
        oc, ov = _normalize(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: column mismatch spark={sc} oracle={oc}")
            n_fail += 1
        elif len(sv) != len(ov):
            print(f"FAIL {name}: row count spark={len(sv)} oracle={len(ov)}")
            n_fail += 1
        elif sv != ov:
            diffs = [(a, b) for a, b in zip(sv, ov) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diffs}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(sv)} rows, cols={sc}")
            n_pass += 1

    print(f"\n{n_pass} passed, {n_fail} failed")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
