"""Spans around the benchmark's calls into each layer, and stage/task
metrics read back from Spark's event log.

Spans are held in memory and written out once, when the run ends.  A
span's window also selects the Spark jobs submitted inside it from the
event log, so a rung's shuffle bytes, task times, GC and spill are
attributed to that rung without instrumenting the program.  (Task
"Bytes Read" is not used: for local parquet scans Spark counts little
more than the footers.)
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        rec = {
            "trace_id": self.trace_id, "id": idx, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = time.time()

    def find(self, name: str, phase: str | None = None) -> dict:
        for s in self.spans:
            if s["name"] == name and s.get("phase") == phase:
                return s
        raise KeyError((name, phase))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def eventlog_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class EventLog:
    """Jobs, stages and tasks of one finished application's event log."""

    def __init__(self, log_dir: str):
        paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if not p.endswith(".inprogress")]
        if len(paths) != 1:
            raise RuntimeError(f"expected one finished event log in "
                               f"{log_dir}, found {paths}")
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        with open(paths[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    self.jobs[jid] = {"submit_ms": ev["Submission Time"]}
                    for sid in ev["Stage IDs"]:
                        self.stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    self.tasks.append({
                        "stage": ev["Stage ID"],
                        "dur_ms": info["Finish Time"] - info["Launch Time"],
                        "gc_ms": m.get("JVM GC Time", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "shuffle_write": (
                            m.get("Shuffle Write Metrics") or {}
                        ).get("Shuffle Bytes Written", 0),
                    })

    def window(self, span: dict) -> dict:
        """Totals over the jobs submitted inside ``span``."""
        lo, hi = span["start"] * 1000, span["end"] * 1000
        jobs = {j for j, rec in self.jobs.items()
                if lo <= rec["submit_ms"] <= hi}
        tasks = [t for t in self.tasks
                 if self.stage_job.get(t["stage"]) in jobs]
        last_stage = max((t["stage"] for t in tasks), default=None)
        last = [t["dur_ms"] for t in tasks if t["stage"] == last_stage]
        return {
            "jobs": len(jobs),
            "tasks": len(tasks),
            "task_s": sum(t["dur_ms"] for t in tasks) / 1000,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
            "spill_bytes": sum(t["spill"] for t in tasks),
            "shuffle_bytes": sum(t["shuffle_write"] for t in tasks),
            "last_stage_skew": (
                max(last) / max(1e-3, statistics.median(last))
                if last else 1.0
            ),
        }
