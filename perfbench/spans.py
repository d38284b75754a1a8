"""Spans around engine calls, and Spark event-log attribution to them.

A :class:`Tracer` records one span per public engine call the benchmark
makes: name, start, end, parent and the run id every span of one run
shares. With ``tag_jobs`` on (the traced run) each span also becomes the
Spark job group of the jobs started inside it, so :func:`read_event_log`
can attribute jobs, tasks, shuffle bytes, GC and task time to the span.
Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MIB = float(1 << 20)

# Event-log counters summed per job group; see _task_counters.
COUNTERS = (
    "jobs", "tasks", "failed_tasks", "task_s", "task_cpu_s", "gc_task_s",
    "scheduler_delay_s", "shuffle_write_mib", "records_read",
    "output_task_s", "output_mib",
)


class Tracer:
    """In-memory span recorder. ``sc`` may be None (no job tagging)."""

    def __init__(self, run_id: str, sc=None, tag_jobs: bool = False):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._sc = sc
        self._tag = tag_jobs and sc is not None
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.epoch0 = time.time()

    def now(self) -> float:
        return time.perf_counter() - self._t0

    def group_id(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "start": self.now(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = self.now()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if not self._tag:
            return
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(self.group_id(sid), self.spans[sid]["name"])

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(s["id"] for s in self.children(cur))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "epoch0": self.epoch0}) + "\n")


@dataclass
class EventLog:
    """Per-job-group counters read from one application's event log."""

    by_group: dict[str, dict[str, float]] = field(default_factory=dict)
    total: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))

    def group(self, gid: str) -> dict[str, float]:
        return self.by_group.get(gid, dict.fromkeys(COUNTERS, 0.0))

    def inclusive(self, tracer: Tracer, sid: int) -> dict[str, float]:
        """Counters of a span plus every span below it."""
        acc = dict.fromkeys(COUNTERS, 0.0)
        for s in tracer.subtree(sid):
            for k, v in self.group(tracer.group_id(s)).items():
                acc[k] += v
        return acc


def _task_counters(ev: dict) -> dict[str, float]:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    dur_ms = max(0, info["Finish Time"] - info["Launch Time"])
    run_ms = m.get("Executor Run Time", 0)
    busy_ms = (run_ms + m.get("Executor Deserialize Time", 0)
               + m.get("Result Serialization Time", 0)
               + info.get("Getting Result Time", 0))
    out = (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    read = ((m.get("Input Metrics") or {}).get("Records Read", 0)
            + (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0))
    return {
        "tasks": 1.0,
        "failed_tasks": 1.0 if info.get("Failed") else 0.0,
        "task_s": run_ms / 1e3,
        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_task_s": m.get("JVM GC Time", 0) / 1e3,
        "scheduler_delay_s": max(0, dur_ms - busy_ms) / 1e3,
        "shuffle_write_mib": (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0) / MIB,
        "records_read": float(read),
        "output_task_s": run_ms / 1e3 if out > 0 else 0.0,
        "output_mib": out / MIB,
    }


_WANTED = ('{"Event":"SparkListenerJobStart"', '{"Event":"SparkListenerTaskEnd"')


def read_event_log(log_dir: str) -> EventLog:
    """Parse the (single, uncompressed) event log written under ``log_dir``.

    Only job starts and task ends are decoded; the SQL-plan events that make
    up most of the file are skipped by prefix. A stage listed by several
    jobs is attributed to the first job that lists it, which is the one that
    ran it (later jobs skip a stage whose shuffle output exists)."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(".")
             and os.path.getsize(p) > 0]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log under {log_dir}, found {files}")
    log = EventLog()
    stage_group: dict[int, str] = {}
    with open(files[0]) as f:
        for line in f:
            if not line.startswith(_WANTED):
                continue
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                for st in ev["Stage IDs"]:
                    stage_group.setdefault(st, gid)
                for acc in (log.by_group.setdefault(gid, dict.fromkeys(COUNTERS, 0.0)),
                            log.total):
                    acc["jobs"] += 1
                continue
            gid = stage_group.get(ev["Stage ID"], "")
            counters = _task_counters(ev)
            for acc in (log.by_group.setdefault(gid, dict.fromkeys(COUNTERS, 0.0)),
                        log.total):
                for k, v in counters.items():
                    acc[k] += v
    return log
