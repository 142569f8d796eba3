"""Per-layer tracing from outside the engine.

``Tracer.span`` times a block of benchmark code and labels every Spark
job submitted inside it with a job group of its own, so the event log
can be rolled up per span.  ``EventLog`` reads that log (written through
the session's ``spark.eventLog.*`` conf) once the session has stopped and
the log is complete.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

IDLE_GROUP = "perfbench-idle"
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "group": f"perfbench-{len(self.spans)}-{name}",
               "parent": self._stack[-1]["group"] if self._stack else None, "s": 0.0}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            self._stack.pop()
            self.sc.setJobGroup(self._stack[-1]["group"] if self._stack else IDLE_GROUP, "")

    def named(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name]

    def median_s(self, name: str) -> float:
        return statistics.median(r["s"] for r in self.named(name))

    def groups_under(self, rec: dict) -> set[str]:
        out = {rec["group"]}
        for c in self.spans:
            if c["parent"] in out:
                out.add(c["group"])
        return out


class EventLog:
    """Job, stage and task metrics of one event log, keyed by job group."""

    def __init__(self, log_dir: str):
        self.job_group: dict[int, str] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        for path in sorted(glob.glob(f"{log_dir}/**", recursive=True)):
            if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
                continue
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            self.job_group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            for sid in ev.get("Stage IDs", []):
                self.stage_job.setdefault(sid, job)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
            self.tasks.append({
                "stage": ev["Stage ID"],
                "wall_s": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3,
                "run_s": m.get("Executor Run Time", 0) / 1e3,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "shuffle_bytes": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0),
                "shuffle_rows_read": rd.get("Total Records Read", 0),
                "py_bytes": _num(acc.get(PY_SENT)) + _num(acc.get(PY_RECEIVED)),
            })

    def jobs(self, groups: set[str]) -> list[int]:
        return [j for j, g in self.job_group.items() if g in groups]

    def tasks_of(self, groups: set[str]) -> list[dict]:
        jobs = set(self.jobs(groups))
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]

    def total(self, groups: set[str], key: str) -> float:
        return float(sum(t[key] for t in self.tasks_of(groups)))

    def task_skew(self, groups: set[str]) -> float:
        """max/median task wall time of the heaviest stage in ``groups``."""
        by_stage: dict[int, list[float]] = {}
        for t in self.tasks_of(groups):
            by_stage.setdefault(t["stage"], []).append(t["wall_s"])
        if not by_stage:
            return 0.0
        walls = max(by_stage.values(), key=sum)
        med = statistics.median(walls)
        return max(walls) / med if med > 0 else 0.0


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def time_per_item(fn, n_items: int, repeats: int = 3) -> float:
    """Best-of-``repeats`` seconds per item of ``fn()`` (single core)."""
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best / max(n_items, 1)
