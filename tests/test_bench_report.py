"""bench.py's output contract: the JSON contract line comes before the
re-measure of flagged queries, and that re-measure has a wall-clock
limit. No Spark: the session and the queries are stand-ins."""

import json
import threading
import time

import bench


class _FakeContext:
    def __init__(self):
        self.cancelled = threading.Event()

    def cancelAllJobs(self):
        self.cancelled.set()


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def _query(spark, seconds):
    """A query whose collect takes ``seconds``, or until jobs are
    cancelled, when it raises as a cancelled Spark job does."""
    class _Df:
        def collect(self):
            if spark.sparkContext.cancelled.wait(seconds):
                raise RuntimeError("job cancelled")
            return []
    return lambda _spark, _sf: _Df()


def test_contract_line_is_printed_before_the_remeasure(monkeypatch, capsys):
    base = {"_path": "base.json", "value": 3.0,
            "queries": {"q_slow": 1.0, **{c: 1.0
                                          for c in bench._CONTROL_QUERIES}}}
    monkeypatch.setattr(bench, "_load_baseline", lambda: base)
    seen = {}

    def remeasure(spark, sf_dir, flagged, limit_s):
        seen["stdout"] = capsys.readouterr().out
        seen["flagged"] = flagged
        raise RuntimeError("the re-measure pass died")

    monkeypatch.setattr(bench, "_remeasure", remeasure)
    timings = {"q_slow": 5.0, **{c: 1.0 for c in bench._CONTROL_QUERIES}}
    bench._report(_FakeSpark(), "sf", timings, 0.1)
    contract = json.loads(seen["stdout"].strip())
    assert contract["metric"] == "total_query_wall_sec"
    assert contract["value"] == 8.0
    assert contract["controls"]["flagged"] == ["q_slow"]
    assert seen["flagged"] == ["q_slow"]
    assert capsys.readouterr().out == ""   # no adjudication line


def test_adjudication_is_a_second_line(monkeypatch, capsys):
    base = {"_path": "base.json", "value": 3.0,
            "queries": {"q_slow": 1.0, **{c: 1.0
                                          for c in bench._CONTROL_QUERIES}}}
    monkeypatch.setattr(bench, "_load_baseline", lambda: base)
    monkeypatch.setattr(bench, "_remeasure",
                        lambda *a: {"q_slow": 1.1,
                                    **{c: 1.0
                                       for c in bench._CONTROL_QUERIES}})
    timings = {"q_slow": 5.0, **{c: 1.0 for c in bench._CONTROL_QUERIES}}
    bench._report(_FakeSpark(), "sf", timings, 0.1)
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 2
    assert json.loads(lines[0])["metric"] == "total_query_wall_sec"
    verdict = json.loads(lines[1])["adjudication"]["q_slow"]["verdict"]
    assert verdict.startswith("not reproduced")


def test_remeasure_stops_at_its_wall_clock_limit(monkeypatch):
    spark = _FakeSpark()
    queries = {"q_hang": _query(spark, 60.0),
               **{c: _query(spark, 0.0) for c in bench._CONTROL_QUERIES}}
    monkeypatch.setattr(bench.entrymod, "queries", lambda: queries)
    t0 = time.monotonic()
    got = bench._remeasure(spark, "sf", ["q_hang"], limit_s=0.5)
    assert time.monotonic() - t0 < 10
    assert spark.sparkContext.cancelled.is_set()
    assert got == {}   # the hung query and the controls after it never ran
