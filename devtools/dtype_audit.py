#!/usr/bin/env python
"""Pandas-dtype parity audit between Spark results and DuckDB oracles.

Round-12 discovery: the driver's correctness gate compares results AFTER
converting both sides to pandas (Spark ``toPandas()``, DuckDB ``.df()``).
That conversion is dtype-sensitive in ways ``fetchall()`` is not:

* DuckDB ``sum(BIGINT)`` returns HUGEINT (int128); pandas has no int128,
  so ``.df()`` renders the column **float64** — ``89`` becomes ``89.0``
  and the value hash diverges from Spark's int64 even when every value
  is numerically identical.  This was the sole cause of the q26 red row
  in rounds 9-11 and the q21 red row in round 11 (a q26 self-audit,
  since removed, proved the Spark bytes were correct at the driver's
  own gate run).
* A nullable integer column becomes float64-with-NaN on BOTH sides
  (Spark toPandas does the same), so nullability is only a problem when
  it is one-sided.

This script runs every ``queries()`` entry and its oracle, converts both
through the driver's path, and flags any column whose pandas dtype KIND
(int / float / object / bool / datetime) differs between the two sides.

Usage: python devtools/dtype_audit.py [sf_dir]
"""

from __future__ import annotations

import sys

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from datasketches_spark_spark.sources import (  # noqa: E402
    TABLE_NAMES, session_builder)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (session_builder(master="local[8]", shuffle_partitions=8)
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_bad = 0
    for name, fn in queries.items():
        sql = oracles.get(name)
        if sql is None:
            print(f"skip  {name}: rows-only (no oracle)")
            continue
        try:
            spdf = fn(spark, sf_dir).toPandas()
            odf = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 — audit must keep going
            print(f"ERR   {name}: {str(e)[:160]}")
            n_bad += 1
            continue
        bad = []
        for c in spdf.columns:
            if c not in odf.columns:
                bad.append(f"{c}: missing in oracle")
                continue
            sk, ok = spdf[c].dtype.kind, odf[c].dtype.kind
            if sk != ok:
                bad.append(f"{c}: spark {spdf[c].dtype} vs oracle "
                           f"{odf[c].dtype}")
        if bad:
            print(f"DTYPE {name}: {'; '.join(bad)}")
            n_bad += 1
        else:
            print(f"ok    {name}")
    print(f"\n{n_bad} queries with dtype-parity problems")
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
