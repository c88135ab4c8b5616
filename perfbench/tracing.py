"""Tracing for the benchmark's traced run (``--trace 1``).

Three sources, all read from outside the package:

* :class:`Tracer` — spans (name, start, end, parent) recorded around
  the benchmark's own calls into the package's public functions, kept
  in memory and written out once at exit.
* :func:`progress_summary` — per-query figures from
  ``StreamingQuery.recentProgress``.
* :func:`engine_counters` — task/stage/job counters from the Spark
  event log, which only the traced run enables.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. ``span`` nests: a span opened inside
    another records it as parent. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.extra: dict = {}  # raw data written out beside the spans
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **self.extra, **extra}, fh, indent=1, default=str)


def quantile(values, q: float) -> float:
    """Inclusive linear-interpolation ``q``-quantile (0.0 for none)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def progress_summary(progress: list[dict]) -> dict[str, float]:
    """Figures of one streaming query from its ``recentProgress``
    (dicts). Only progress entries that processed a batch of data
    count toward timings; late rows and batches count over all."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = lambda p, k: p.get("durationMs", {}).get(k, 0) / 1000.0  # noqa: E731
    last_state = progress[-1].get("stateOperators", []) if progress else []
    return {
        "batch_s_p50": quantile([dur(p, "triggerExecution") for p in data], 0.5),
        "batch_s_p90": quantile([dur(p, "triggerExecution") for p in data], 0.9),
        "add_batch_s_p50": quantile([dur(p, "addBatch") for p in data], 0.5),
        "planning_s_p50": quantile([dur(p, "queryPlanning") for p in data], 0.5),
        "commit_s_p50": quantile([dur(p, "walCommit") + dur(p, "commitOffsets") for p in data], 0.5),
        "state_rows": float(sum(s.get("numRowsTotal", 0) for s in last_state)),
        "state_mb": sum(s.get("memoryUsedBytes", 0) for s in last_state) / 1e6,
        "state_commit_s": quantile(
            [sum(s.get("commitTimeMs", 0) for s in p.get("stateOperators", [])) / 1000.0
             for p in data],
            0.5,
        ),
        "rows_dropped_late": float(
            sum(s.get("numRowsDroppedByWatermark", 0)
                for p in progress for s in p.get("stateOperators", []))
        ),
        "batches": float(len(data)),
    }


ENGINE_KEYS = (
    "jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
    "core_busy_ratio", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "input_mb", "task_skew_max",
)


def engine_counters(event_dir: str, t0: float, t1: float, cores: int) -> dict[str, float]:
    """Counters over the jobs submitted and the tasks launched in the
    wall-clock window [t0, t1] (seconds since the epoch), read from the
    Spark event log(s) in ``event_dir``. ``stages`` counts stages that
    ran a task in the window. ``task_skew_max`` is, over stages with at least
    four tasks, the largest max/median task duration."""
    lo, hi = t0 * 1000.0, t1 * 1000.0
    jobs = 0
    durations: dict[tuple[int, int], list[float]] = {}
    c = dict.fromkeys(ENGINE_KEYS, 0.0)
    # Spark 4 writes rolling logs: a directory of ``events_*`` files
    paths = [p for p in glob.glob(os.path.join(event_dir, "**"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if lo <= ev.get("Submission Time", 0) <= hi:
                        jobs += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    if not lo <= info.get("Launch Time", 0) <= hi:
                        continue
                    m = ev.get("Task Metrics") or {}
                    c["tasks"] += 1
                    c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics", {})
                    c["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / 1e6
                    c["shuffle_write_mb"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                    )
                    c["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
                    c["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / 1e6
                    key = (ev.get("Stage ID", -1), ev.get("Stage Attempt ID", 0))
                    durations.setdefault(key, []).append(
                        info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    )
    c["jobs"] = float(jobs)
    c["stages"] = float(len(durations))
    c["core_busy_ratio"] = c["executor_run_s"] / max(1e-9, (t1 - t0) * cores)
    skews = [
        max(d) / max(1.0, statistics.median(d)) for d in durations.values() if len(d) >= 4
    ]
    c["task_skew_max"] = max(skews) if skews else 1.0
    return c
