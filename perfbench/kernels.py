"""Kernel microbench: the four sketch families on a workload's own columns.

For each family (kll on ``value``, theta and hll on ``user_id``, freq on
``item``) and each lifecycle step, a rate in operations per second over
the largest groups of the workload's input:

* ``update_rows_per_s``: rows folded in by the batch update call;
* ``serialize_per_s``, ``deserialize_per_s``: states per second;
* ``merge_per_s``: states merged into one union per second;
* ``estimate_per_s``: answers per second (p50, distinct count, items);
* ``state_bytes``: mean serialized state size.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa

from .oracle import HLL_LGK, KLL_K, THETA_K

GROUPS = 16
MIN_STEP_S = 0.05


def _families():
    from datasketches_spark_spark.sketches import (
        FreqItemsSketch, HllSketch, KllSketch, ThetaSketch, deserialize_any,
        hash_series)
    import pandas as pd

    def hashed(col):
        return lambda g: hash_series(pd.Series(g[col]))

    return {
        "kll": (lambda: KllSketch(k=KLL_K), lambda g: g["value"],
                lambda s, x: s.update_batch(x), lambda s: s.quantile(0.5)),
        "theta": (lambda: ThetaSketch(k=THETA_K), hashed("user_id"),
                  lambda s, x: s.update_hashes(x), lambda s: s.estimate()),
        "hll": (lambda: HllSketch(lgk=HLL_LGK), hashed("user_id"),
                lambda s, x: s.update_hashes(x), lambda s: s.estimate()),
        "freq": (lambda: FreqItemsSketch(), lambda g: g["item"].tolist(),
                 lambda s, x: s.update_batch(x),
                 lambda s: s.frequent_items()),
    }, deserialize_any


def _rate(work, count: int) -> float:
    """``count`` units per second of ``work()``, repeated for at least
    MIN_STEP_S."""
    reps, t0 = 0, time.perf_counter()
    while True:
        work()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= MIN_STEP_S:
            return reps * count / dt


def _largest_groups(table: pa.Table, keys: list[str]) -> list[dict]:
    cols = {c: table.column(c).to_numpy(zero_copy_only=False)
            for c in ("value", "user_id", "item", *keys)}
    codes = [np.unique(cols[k], return_inverse=True)[1] for k in keys]
    code = np.ravel_multi_index(codes, [c.max() + 1 for c in codes])
    sizes = np.bincount(code)
    out = []
    for g in np.argsort(-sizes, kind="stable")[:GROUPS]:
        rows = np.flatnonzero(code == g)
        out.append({c: cols[c][rows] for c in ("value", "user_id", "item")})
    return out


def microbench(table: pa.Table, keys: list[str]) -> dict[str, float]:
    families, deserialize_any = _families()
    groups = _largest_groups(table, keys)
    out = {}
    for fam, (make, prep, update, estimate) in families.items():
        inputs = [prep(g) for g in groups]
        rows = sum(len(g["value"]) for g in groups)

        def build():
            sks = []
            for x in inputs:
                sk = make()
                update(sk, x)
                sks.append(sk)
            return sks

        sketches = build()
        blobs = [sk.serialize() for sk in sketches]
        p = f"sketches.{fam}."
        out[p + "update_rows_per_s"] = _rate(build, rows)
        out[p + "serialize_per_s"] = _rate(
            lambda: [sk.serialize() for sk in sketches], len(sketches))
        out[p + "deserialize_per_s"] = _rate(
            lambda: [deserialize_any(b) for b in blobs], len(blobs))

        def merge_all():
            copies = [deserialize_any(b) for b in blobs]
            t0 = time.perf_counter()
            acc = copies[0]
            for sk in copies[1:]:
                acc = acc.merge(sk)
            return time.perf_counter() - t0

        spent, merges = 0.0, 0
        while spent < MIN_STEP_S:
            spent += merge_all()
            merges += len(blobs) - 1
        out[p + "merge_per_s"] = merges / spent
        out[p + "estimate_per_s"] = _rate(
            lambda: [estimate(sk) for sk in sketches], len(sketches))
        out[p + "state_bytes"] = float(np.mean([len(b) for b in blobs]))
    return out
