"""Seeded inputs are reproducible, and the oracle and tracer helpers agree
with hand-computed answers.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

import os

import numpy as np
import pytest

from perfbench import gen, progress
from perfbench.oracle import Answer, Oracle
from perfbench.trace import Tracer, union_length


def _files(root):
    out = {}
    for r, _, fs in os.walk(root):
        for f in fs:
            path = os.path.join(r, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = (fh.read(),
                                                    os.path.getmtime(path))
    return out


@pytest.mark.parametrize("workload", sorted(gen.SPECS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    gen.write_inputs(workload, 7, str(tmp_path / "a"))
    gen.write_inputs(workload, 7, str(tmp_path / "b"))
    gen.write_inputs(workload, 8, str(tmp_path / "c"))
    a, b, c = (_files(tmp_path / d) for d in "abc")
    assert a and {k: v[0] for k, v in a.items()} == {
        k: v[0] for k, v in b.items()}
    assert {k: v[0] for k, v in a.items()} != {k: v[0] for k, v in c.items()}
    if workload == "stream_windowed":   # replay order is part of the input
        assert a == b


def test_seeds_share_the_group_layout():
    spec = gen.SPECS["rollup_query"]
    t1, t2 = gen.events(spec, 1), gen.events(spec, 2)
    for t in (t1, t2):
        assert t.column("ts").to_numpy().tolist() == sorted(
            t.column("ts").to_numpy().tolist())

    def layout(t):
        keys = zip(t.column("day").to_pylist(), t.column("tenant").to_pylist())
        return sorted(np.unique(np.array([f"{d}/{x}" for d, x in keys]),
                                return_counts=True)[1].tolist())
    assert layout(t1) == layout(t2)


def test_cache_is_reused(tmp_path):
    first = gen.cached_inputs("stream_windowed", 3, str(tmp_path))
    stamp = os.path.getmtime(first)
    assert gen.cached_inputs("stream_windowed", 3, str(tmp_path)) == first
    assert os.path.getmtime(first) == stamp


def test_oracle_accepts_exact_and_flags_wrong_answers():
    spec = gen.SPECS["rollup_ingest"]
    table = gen.events(spec, 5)
    o = Oracle(table)
    rows = o.groups(["day"], 0, 0)
    (code, idx), = rows.items()
    vals = np.sort(o.value[idx])
    users = np.unique(o.user[idx]).size
    ids, counts = np.unique(o.item[idx], return_counts=True)
    items = list(zip(o.item_names[ids].tolist(), counts.tolist()))
    good = Answer((0,), 0.5, float(vals[(len(vals) - 1) // 2]), users, users,
                  items, 0)
    assert o.check(["day"], 0, 0, [good]).problems == []
    bad = Answer((0,), 0.5, float(vals[-1]), users * 2, users, items[:1], 0)
    problems = o.check(["day"], 0, 0, [bad]).problems
    assert len(problems) == 3   # rank error, theta count, dropped items
    assert o.check(["day"], 0, 1, [good]).problems == [
        "1 groups missing from the answer"]


def test_union_and_self_time():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    tr = Tracer(True)
    with tr.span("op"):
        with tr.span("child"):
            pass
        tr.record("measured", 10.0, 10.5)
    selfs = tr.self_times()
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]
    assert tr.total("measured") == 0.5 and selfs[2] == 0.5


def test_progress_summary():
    recs = [{"durationMs": {"addBatch": a, "walCommit": 3,
                            "triggerExecution": a + 10},
             "stateOperators": [{"commitTimeMs": 5, "numRowsTotal": n,
                                 "numRowsRemoved": 1,
                                 "memoryUsedBytes": 100 * n}]}
            for a, n in ((10, 2), (30, 4), (20, 3))]
    s = progress.summarize(recs)
    assert s["add_batch_ms"] == 20 and s["state_commit_ms"] == 5
    assert s["state_rows_total"] == 4 and s["state_rows_removed"] == 3
    assert s["state_memory_bytes"] == 400
    assert progress.summarize([])["state_rows_total"] == 0
