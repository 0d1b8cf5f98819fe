"""Spans recorded around public calls, and Spark event-log attribution.

A span is ``{id, name, parent, start, end}``; spans live in memory and
are printed once, at the end of a traced run. Inside a span the calling
thread's Spark jobs carry the job group ``perfbench-<id>``, so the event
log ties every job, stage and task to the span that launched it.

Jobs started by a thread the library spawns itself (``run_pipeline``'s
codec branch) do not inherit the caller's job group; those are given
to the innermost span that was open when the job was submitted.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time
from collections import defaultdict

GROUP_PREFIX = "perfbench-"
PY_TIME = "time to run Python workers"  # SQL timing metric, summed over tasks, ms


class Tracer:
    """Span recorder; a disabled tracer records nothing and labels no job."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"{GROUP_PREFIX}{top['id']}", top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def attribute(events: list[dict], spans: list[dict]) -> dict[int, dict]:
    """Per-span shuffle write, disk spill, Python worker time and the
    dominant stage's task skew, from a finished event log."""
    job_span: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        if ev["Event"] != "SparkListenerJobStart":
            continue
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
        if group.startswith(GROUP_PREFIX):
            sid = int(group[len(GROUP_PREFIX):])
        else:
            sid = _innermost(spans, ev["Submission Time"] / 1000.0)
        if sid is None:
            continue
        job_span[ev["Job ID"]] = sid
        for st in ev["Stage IDs"]:
            stage_job[st] = ev["Job ID"]

    tasks: dict[int, list[float]] = defaultdict(list)
    shuffle: dict[int, int] = defaultdict(int)
    spill: dict[int, int] = defaultdict(int)
    py_ms: dict[int, int] = defaultdict(int)
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerTaskEnd":
            st = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            tasks[st].append(float(m.get("Executor Run Time", 0)))
            shuffle[st] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill[st] += m.get("Disk Bytes Spilled", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == PY_TIME:
                    py_ms[info["Stage ID"]] += int(acc.get("Value", 0))

    out: dict[int, dict] = {
        s["id"]: {"shuffle_write_mb": 0.0, "spill_mb": 0.0, "python_s": 0.0,
                  "task_skew": 1.0, "_work": 0.0}
        for s in spans
    }
    for st, job in stage_job.items():
        rec = out[job_span[job]]
        rec["shuffle_write_mb"] += shuffle[st] / 1e6
        rec["spill_mb"] += spill[st] / 1e6
        rec["python_s"] += py_ms[st] / 1e3
        times = tasks[st]
        # skew of the stage holding most of the span's task time
        if len(times) > 1 and sum(times) > rec["_work"]:
            med = statistics.median(times)
            rec["_work"] = sum(times)
            rec["task_skew"] = max(times) / med if med > 0 else 1.0
    for rec in out.values():
        rec.pop("_work")
    return out


def _innermost(spans: list[dict], t: float) -> int | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s.get("end", float("inf")):
            if best is None or s["start"] >= spans[best]["start"]:
                best = s["id"]
    return best
