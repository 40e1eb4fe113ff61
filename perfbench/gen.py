"""Seeded event tables for the lifecycle benchmark (numpy + pyarrow only).

Every workload reads one synthetic event table::

    ts (timestamp[us])  day (int32)  tenant (string)  user_id (int64)
    item (string)       value (float64, float32-representable)

Tenants are Zipf-skewed, but the number of rows of each (day, tenant)
group is a deterministic function of the spec, so every seed has the same
group layout and the same amount of work; the seed draws timestamps,
users, items and values. Inputs are written once per (workload, seed,
spec) under the cache directory and reused by later runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000


@dataclass(frozen=True)
class Spec:
    rows: int       # target table size (rounded to whole groups)
    days: int
    tenants: int
    zipf: float     # tenant skew exponent
    users: int      # user_id domain (bounds every group's distinct count)
    items: int      # item domain (Zipf 1.05 popularity)
    parts: int      # ingest: refresh chunks; stream: files per day


SPECS = {
    "rollup_lifecycle": Spec(rows=16_000, days=14, tenants=100, zipf=1.1,
                             users=4000, items=3000, parts=3),
    "rollup_ingest": Spec(rows=12_000, days=8, tenants=150, zipf=1.1,
                          users=4000, items=3000, parts=3),
    "rollup_query": Spec(rows=40_000, days=14, tenants=60, zipf=1.1,
                         users=4000, items=3000, parts=1),
    "stream_windowed": Spec(rows=13_000, days=8, tenants=6, zipf=1.1,
                            users=4000, items=3000, parts=4),
}

STREAM_SEGMENT_DAYS = 2
LAYOUT = 3   # bump when the file layout changes, so caches regenerate


def tenant_name(i: int) -> str:
    return f"t{i:03d}"


def events(spec: Spec, seed: int) -> pa.Table:
    """The event table of ``spec`` for ``seed``, ordered by ``ts``."""
    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, spec.tenants + 1) ** spec.zipf
    per_day = np.maximum(
        1, np.floor(spec.rows / spec.days * w / w.sum() + 0.5)).astype(np.int64)
    day = np.repeat(np.arange(spec.days, dtype=np.int32), per_day.sum())
    tenant = np.tile(np.repeat(np.arange(spec.tenants), per_day), spec.days)
    n = day.size
    ts = EPOCH_US + day.astype(np.int64) * DAY_US + rng.integers(0, DAY_US, n)
    order = np.lexsort((tenant, ts))
    day, tenant, ts = day[order], tenant[order], ts[order]
    iw = 1.0 / np.arange(1, spec.items + 1) ** 1.05
    item = rng.choice(spec.items, size=n, p=iw / iw.sum())
    value = rng.lognormal(3.0, 1.0, n).astype(np.float32).astype(np.float64)
    return pa.table({
        "ts": pa.array(ts.astype("datetime64[us]")),
        "day": pa.array(day),
        "tenant": pa.array([tenant_name(t) for t in tenant.tolist()]),
        "user_id": pa.array(rng.integers(0, spec.users, n, dtype=np.int64)),
        "item": pa.array([f"i{x:04d}" for x in item.tolist()]),
        "value": pa.array(value),
    })


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_inputs(workload: str, seed: int, out: str) -> None:
    """Write the input files of ``workload`` for ``seed`` into ``out``.

    * rollup_ingest, rollup_lifecycle: ``chunk{c}.parquet``, a seeded
      random split of the table (the build reads chunk 0, each refresh
      appends one more);
    * rollup_query: ``events.parquet``;
    * stream_windowed: ``seg{k}/f{j:03d}.parquet``, the time-ordered table
      cut into ``parts`` files per day and ``STREAM_SEGMENT_DAYS`` days
      per segment, with increasing modification times so a file source
      replays them in event-time order; ``warm/`` holds a copy of the
      first file, for an untimed warm-up replay.
    """
    spec = SPECS[workload]
    table = events(spec, seed)
    os.makedirs(out, exist_ok=True)
    if workload in ("rollup_ingest", "rollup_lifecycle"):
        rng = np.random.default_rng([seed, 1])
        chunk = rng.integers(0, spec.parts, table.num_rows)
        for c in range(spec.parts):
            _write(table.filter(pa.array(chunk == c)),
                   os.path.join(out, f"chunk{c}.parquet"))
    elif workload == "rollup_query":
        _write(table, os.path.join(out, "events.parquet"))
    elif workload == "stream_windowed":
        day = table.column("day").to_numpy()
        ts = table.column("ts").to_numpy().astype(np.int64)
        slot = day * spec.parts + (ts - EPOCH_US - day.astype(np.int64)
                                   * DAY_US) * spec.parts // DAY_US
        mtime = 1_700_000_000
        for k in range(spec.days // STREAM_SEGMENT_DAYS):
            seg = os.path.join(out, f"seg{k}")
            os.makedirs(seg, exist_ok=True)
            for j in range(STREAM_SEGMENT_DAYS * spec.parts):
                s = k * STREAM_SEGMENT_DAYS * spec.parts + j
                path = os.path.join(seg, f"f{j:03d}.parquet")
                _write(table.filter(pa.array(slot == s)), path)
                mtime += 10
                os.utime(path, (mtime, mtime))
        os.makedirs(os.path.join(out, "warm"))
        shutil.copy2(os.path.join(out, "seg0", "f000.parquet"),
                     os.path.join(out, "warm"))
    else:
        raise ValueError(f"unknown workload {workload!r}")


def cached_inputs(workload: str, seed: int, cache_root: str) -> str:
    """Directory holding ``workload``'s inputs for ``seed``, generated on
    first use. The key includes the spec, so a changed spec regenerates."""
    spec = SPECS[workload]
    key = {**asdict(spec), "layout": LAYOUT}
    digest = hashlib.sha1(json.dumps(key, sort_keys=True)
                          .encode()).hexdigest()[:10]
    final = os.path.join(cache_root, f"{workload}-s{seed}-{digest}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_inputs(workload, seed, tmp)
    os.replace(tmp, final)
    return final


def read_events(path: str) -> pa.Table:
    """All rows under an input directory (any of the layouts above; the
    stream's warm-up copies are not counted twice)."""
    files = sorted(os.path.join(r, f) for r, _, fs in os.walk(path)
                   for f in fs if f.endswith(".parquet")
                   and os.path.basename(r) != "warm")
    return pa.concat_tables([pq.read_table(f) for f in files])
