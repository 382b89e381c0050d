"""Spans around the benchmark's calls into the engine, and a parser for
Spark's JSON event log.

Each span sets the Spark job description to its slash-joined path
("round/tableio.commit"), so every job, stage and task in the event log can
be attributed to the call that launched it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Records spans (name, start, end, parent) and counts in memory.

    Built without a SparkContext it records nothing: the untraced runs
    that give the end-to-end figures pay no tracing cost.
    """

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self._stack: list[dict] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "label": f"{parent['label']}/{name}" if parent else name,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobDescription(rec["label"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(parent["label"] if parent else None)

    def sample(self, name: str, value: float) -> None:
        """Record one measured value of a count kept per call."""
        if self.enabled and not (self._stack and self._stack[0]["name"] == "warm"):
            self.samples.setdefault(name, []).append(value)

    def finished(self, name: str, skip: str = "warm") -> list[dict]:
        """Finished spans named ``name``, except those under a top-level
        span named ``skip``."""
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None
            and s["label"].split("/", 1)[0] != skip
        ]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"type": "span", **s}) + "\n")
            for k, v in sorted(self.samples.items()):
                f.write(json.dumps({"type": "samples", "name": k, "values": v}) + "\n")
            for k, v in sorted(self.counts.items()):
                f.write(json.dumps({"type": "count", "name": k, "value": v}) + "\n")


class EventLog:
    """Jobs, stages and tasks from one application's JSON event log."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, list[dict]] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    self.jobs[jid] = {
                        "label": props.get("spark.job.description") or "",
                        "sql_id": props.get("spark.sql.execution.id"),
                        "start_ms": ev.get("Submission Time"),
                        "end_ms": None,
                    }
                    for sid in ev.get("Stage IDs", ()):
                        self.stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    job = self.jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end_ms"] = ev.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks.setdefault(ev["Stage ID"], []).append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "spill_bytes": m.get("Disk Bytes Spilled", 0),
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "wall_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    })

    def job_ids(self, prefix: str) -> list[int]:
        """Jobs whose span label is ``prefix`` or lies under it."""
        return sorted(
            j for j, rec in self.jobs.items()
            if rec["label"] == prefix or rec["label"].startswith(prefix + "/")
        )

    def stage_ids(self, prefix: str) -> list[int]:
        """Stages that ran tasks for jobs under ``prefix``."""
        jobs = set(self.job_ids(prefix))
        return sorted(
            s for s, j in self.stage_job.items() if j in jobs and s in self.tasks
        )

    def totals(self, prefix: str) -> dict[str, float]:
        stages = self.stage_ids(prefix)
        tasks = [t for s in stages for t in self.tasks[s]]
        return {
            "jobs": len(self.job_ids(prefix)),
            "stages": len(stages),
            "tasks": len(tasks),
            **{
                k: sum(t[k] for t in tasks)
                for k in ("gc_ms", "spill_bytes", "shuffle_write_bytes")
            },
        }

    def task_skew(self, prefix: str) -> float:
        """Slowest task over the median task, in the stage under ``prefix``
        that spent the most executor run time."""
        stages = self.stage_ids(prefix)
        if not stages:
            return 0.0
        heavy = max(stages, key=lambda s: sum(t["run_ms"] for t in self.tasks[s]))
        times = [t["wall_ms"] for t in self.tasks[heavy]]
        med = statistics.median(times)
        return max(times) / med if med > 0 else 0.0

    def jobs_in(self, label: str, start_s: float, end_s: float) -> list[int]:
        """Jobs labelled ``label`` submitted within a span's interval."""
        return sorted(
            j for j, rec in self.jobs.items()
            if rec["label"] == label and rec["start_ms"] is not None
            and start_s * 1000 <= rec["start_ms"] <= end_s * 1000
        )


def find_event_log(log_dir: str) -> str:
    """The single application log Spark wrote into ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
