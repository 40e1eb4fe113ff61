"""Per-trigger records from ``StreamingQueryProgress``.

The benchmark's session sets ``spark.sql.streaming.numRecentProgressUpdates``
high enough that ``query.recentProgress`` still holds every trigger when
the query ends; a data trigger without a record counts as a failed
operation.
"""

from __future__ import annotations

import json
import statistics
from datetime import datetime

KEEP_PROGRESS = 10_000   # spark.sql.streaming.numRecentProgressUpdates

_DURATIONS = {"add_batch_ms": "addBatch", "wal_commit_ms": "walCommit",
              "commit_offsets_ms": "commitOffsets",
              "query_planning_ms": "queryPlanning"}
_STATE_TIMES = {"state_commit_ms": "commitTimeMs",
                "state_update_ms": "allUpdatesTimeMs",
                "state_removal_ms": "allRemovalsTimeMs"}


def records(query) -> list[dict]:
    """One dict per trigger the query ran, oldest first."""
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def trigger_ms(rec: dict) -> float:
    return float(rec["durationMs"]["triggerExecution"])


def start_s(rec: dict) -> float:
    """Epoch seconds at which the trigger started."""
    return datetime.fromisoformat(
        rec["timestamp"].replace("Z", "+00:00")).timestamp()


def summarize(recs: list[dict]) -> dict[str, float]:
    """The streaming.* layer metrics: median per trigger for the phase
    times, and totals or peaks for the state store."""
    out = {}
    for name, key in _DURATIONS.items():
        vals = [r["durationMs"].get(key, 0) for r in recs]
        out[name] = float(statistics.median(vals)) if vals else 0.0
    ops = [r["stateOperators"][0] for r in recs if r.get("stateOperators")]
    for name, key in _STATE_TIMES.items():
        vals = [o.get(key, 0) for o in ops]
        out[name] = float(statistics.median(vals)) if vals else 0.0
    out["state_rows_total"] = float(max((o.get("numRowsTotal", 0)
                                         for o in ops), default=0))
    out["state_rows_removed"] = float(sum(o.get("numRowsRemoved", 0)
                                          for o in ops))
    out["state_memory_bytes"] = float(max((o.get("memoryUsedBytes", 0)
                                           for o in ops), default=0))
    return out
