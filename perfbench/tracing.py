"""In-memory spans around layer calls, and Spark's event log read back.

Spans are recorded from the benchmark's side of each call (name, start,
end, parent, run id) and written out once, when the run ends.  Spark's
own counters come from its event log: jobs, stages and tasks are
attributed to a span by the time their job was submitted.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``enabled=False`` makes ``span`` a plain timer."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), 0.0, parent, self.run_id)
        if self.enabled:
            self.spans.append(s)
            self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            if self.enabled:
                self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        """One JSON line per span, with its self time."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self_s": self_time(s, self.spans)}) + "\n")


def _covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    kids = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.id and c.end > span.start and c.start < span.end
    ]
    return span.duration - _covered(kids)


# -- event log -----------------------------------------------------------

_KEEP = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerTaskEnd",
    "SQLExecutionStart",
    "SQLAdaptiveExecutionUpdate",
)


class EventLog:
    """The parts of one application's event log the benchmark reads."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}  # job id -> {submit, end, stages, exec_id}
        self.tasks: list[dict] = []  # {stage, run_ms, cpu_ns, gc_ms, shuffle_w, spill, acc}
        self.plan_text: dict[int, str] = {}  # execution id -> latest physical plan
        with open(path) as f:
            for line in f:
                head = line[:80]
                if not any(k in head for k in _KEEP):
                    continue
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "submit": e["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(e["Stage IDs"]),
                "exec_id": int(exec_id) if exec_id is not None else None,
            }
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            acc = []  # (SQL metric name, this task's update)
            for a in e["Task Info"].get("Accumulables", []):
                if "Update" in a and a.get("Name") and not a["Name"].startswith("internal."):
                    try:
                        acc.append((a["Name"], int(a["Update"])))
                    except (TypeError, ValueError):
                        pass
            self.tasks.append(
                {
                    "stage": e["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "acc": acc,
                }
            )
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self.plan_text[e["executionId"]] = e.get("physicalPlanDescription", "")

    # -- attribution ------------------------------------------------------

    def jobs_in(self, span: Span) -> list[int]:
        return [j for j, v in self.jobs.items() if span.start <= v["submit"] <= span.end]

    def tasks_in(self, span: Span) -> list[dict]:
        stages = {s for j in self.jobs_in(span) for s in self.jobs[j]["stages"]}
        return [t for t in self.tasks if t["stage"] in stages]

    def busy_wall(self, job_ids: list[int]) -> float:
        """Wall time covered by the given jobs (overlaps counted once)."""
        return _covered((self.jobs[j]["submit"], self.jobs[j]["end"] or self.jobs[j]["submit"]) for j in job_ids)

    def engine_counters(self, span: Span, cores: int) -> dict:
        """Spark engine totals over the jobs submitted inside ``span``."""
        tasks = self.tasks_in(span)
        run_s = sum(t["run_ms"] for t in tasks) / 1000.0
        return {
            "spark.jobs": len(self.jobs_in(span)),
            "spark.tasks": len(tasks),
            "spark.task_run_s": run_s,
            "spark.task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "spark.core_busy_ratio": run_s / (cores * span.duration) if span.duration > 0 else 0.0,
            "spark.shuffle_write_bytes": sum(t["shuffle_w"] for t in tasks),
            "spark.spill_bytes": sum(t["spill"] for t in tasks),
            "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        }

    def acc_total(self, span: Span, name: str) -> int:
        """Sum of one named SQL metric over the tasks of ``span``."""
        return sum(v for t in self.tasks_in(span) for n, v in t["acc"] if n == name)

    def task_skew(self, span: Span, marker: str = "time to build hash map") -> float:
        """max / median task run time of the stage that builds a hash join
        (the stage whose tasks report ``marker``); without such a stage,
        of the stage with the largest summed run time."""
        by_stage: dict[int, list[dict]] = {}
        for t in self.tasks_in(span):
            by_stage.setdefault(t["stage"], []).append(t)
        if not by_stage:
            return 0.0
        marked = [s for s, ts in by_stage.items() if any(n == marker for t in ts for n, _ in t["acc"])]
        pool = marked or list(by_stage)
        stage = max(pool, key=lambda s: sum(t["run_ms"] for t in by_stage[s]))
        runs = [t["run_ms"] for t in by_stage[stage]]
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else float(max(runs) > 0)

    def jobs_reading(self, span: Span, path: str) -> list[int]:
        """Jobs of ``span`` whose SQL plan scans the table at ``path``."""
        scan = re.compile(r"Location: [^\[\n]*\[file:" + re.escape(os.path.abspath(path)) + r"[\],]")
        return [
            j
            for j in self.jobs_in(span)
            if self.jobs[j]["exec_id"] is not None and scan.search(self.plan_text.get(self.jobs[j]["exec_id"], ""))
        ]


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    files = [f for f in files if os.path.isfile(f) and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]
