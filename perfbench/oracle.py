"""Exact answers and the error contracts every benchmark answer must meet.

An answer is one output group of a sketch query: the group key, a
quantile of ``value`` at rank ``p``, the theta and HLL distinct counts of
``user_id`` and the frequent ``item`` list with its maximum error. The
oracle recomputes each from the raw rows with numpy and checks:

* quantile: normalised rank error within the KLL a-priori bound for k;
* distinct counts: relative error within 3 RSE of the sketch;
* frequent items: the NO_FALSE_POSITIVES contract (every reported item
  is a true heavy hitter and its estimate brackets its true count), and
  exactly the full item set while the sketch is exact.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

# KLL k is scaled down from the default 200 with the benchmark's small
# groups, so that most quantile answers come from compacted (estimating)
# sketches, as they would on production-sized groups. Theta keeps its
# default k: every group stays below it, so theta answers are exact and a
# 3-RSE miss (0.3% per estimating answer) can never fail a run by chance.
KLL_K = 64
THETA_K = 4096       # 2 ** (distinctCnt.cpc.lgK + 1) default
HLL_LGK = 12         # distinctCnt.hll.lgK default

# DataSketches' a-priori single-quantile normalised rank error (99% conf.)
KLL_RANK_BOUND = 2.296 / KLL_K ** 0.9723
THETA_BOUND = 3.0 / math.sqrt(THETA_K - 1)
HLL_BOUND = 3.0 * 1.04 / math.sqrt(1 << HLL_LGK)


@dataclass
class Answer:
    key: tuple                 # values of the query's group-by columns
    p: float
    quantile: float | None
    ndv_theta: int | None
    ndv_hll: int | None
    items: list                # [(item, estimate)]
    max_err: int


@dataclass
class Verdict:
    rank_errors: list = field(default_factory=list)
    ndv_rel_errors: list = field(default_factory=list)
    problems: list = field(default_factory=list)


class Oracle:
    """Exact per-group answers over one event table."""

    def __init__(self, table: pa.Table):
        self.day = table.column("day").to_numpy().astype(np.int64)
        tenants = table.column("tenant").to_numpy(zero_copy_only=False)
        self.tenant_names, self.tenant = np.unique(tenants, return_inverse=True)
        self.user = table.column("user_id").to_numpy()
        items = table.column("item").to_numpy(zero_copy_only=False)
        self.item_names, self.item = np.unique(items, return_inverse=True)
        self.value = table.column("value").to_numpy()
        self._ntenant = len(self.tenant_names)

    def _codes(self, keys: list[str]) -> np.ndarray:
        code = np.zeros(self.day.size, np.int64)
        for k in keys:
            if k == "day":
                code = code * 1_000_000 + self.day
            elif k == "tenant":
                code = code * self._ntenant + self.tenant
            else:
                raise ValueError(f"unknown key {k!r}")
        return code

    def key_code(self, keys: list[str], key: tuple) -> int:
        code = 0
        for k, v in zip(keys, key):
            if k == "day":
                code = code * 1_000_000 + int(v)
            else:
                i = int(np.searchsorted(self.tenant_names, v))
                if i >= self._ntenant or self.tenant_names[i] != v:
                    return -1
                code = code * self._ntenant + i
        return code

    def groups(self, keys: list[str], day_lo: int,
               day_hi: int) -> dict[int, np.ndarray]:
        """Row indices per group code for rows with day in [lo, hi]."""
        rows = np.flatnonzero((self.day >= day_lo) & (self.day <= day_hi))
        code = self._codes(keys)[rows]
        order = np.argsort(code, kind="stable")
        rows, code = rows[order], code[order]
        cut = np.flatnonzero(np.diff(code)) + 1
        starts = np.concatenate([[0], cut])
        return {int(code[s]): part
                for s, part in zip(starts, np.split(rows, cut))}

    def check(self, keys: list[str], day_lo: int, day_hi: int,
              answers: list[Answer]) -> Verdict:
        """Check every answer of one query; also that the answer set
        covers exactly the groups present in the selected rows."""
        v = Verdict()
        groups = self.groups(keys, day_lo, day_hi)
        seen = set()
        for a in answers:
            code = self.key_code(keys, a.key)
            rows = groups.get(code)
            if rows is None:
                v.problems.append(f"answer for absent group {a.key}")
                continue
            seen.add(code)
            self._check_one(a, rows, v)
        if len(seen) != len(groups):
            v.problems.append(
                f"{len(groups) - len(seen)} groups missing from the answer")
        return v

    def _check_one(self, a: Answer, rows: np.ndarray, v: Verdict) -> None:
        vals = np.sort(self.value[rows])
        n = vals.size
        if a.quantile is None:
            v.problems.append(f"{a.key}: null quantile")
        else:
            lo = np.searchsorted(vals, a.quantile, "left") / n
            hi = np.searchsorted(vals, a.quantile, "right") / n
            err = 0.0 if lo <= a.p <= hi else min(abs(a.p - lo), abs(a.p - hi))
            v.rank_errors.append(err)
            if err > KLL_RANK_BOUND:
                v.problems.append(f"{a.key}: p{a.p} rank error {err:.4f}")
        exact = np.unique(self.user[rows]).size
        for est, bound, name in ((a.ndv_theta, THETA_BOUND, "theta"),
                                 (a.ndv_hll, HLL_BOUND, "hll")):
            if est is None:
                v.problems.append(f"{a.key}: null {name} estimate")
                continue
            rel = abs(est - exact) / exact
            v.ndv_rel_errors.append(rel)
            if rel > bound:
                v.problems.append(f"{a.key}: {name} {est} vs {exact}")
        ids, counts = np.unique(self.item[rows], return_counts=True)
        truth = dict(zip(self.item_names[ids].tolist(), counts.tolist()))
        for item, est in a.items:
            t = truth.get(item, 0)
            if not (est - a.max_err <= t <= est) or (a.max_err and t <= a.max_err):
                v.problems.append(
                    f"{a.key}: item {item} est {est} true {t} maxerr {a.max_err}")
        if a.max_err == 0 and len(a.items) != len(truth):
            v.problems.append(f"{a.key}: exact freq sketch dropped items")
