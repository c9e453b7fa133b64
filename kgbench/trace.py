"""Spans around calls into the program, and the Spark event-log reader.

The traced run wraps the program's public entry points from outside (the
package is not modified): each wrapper times the call as a span and, for
the calls that own a pipeline stage or a query, sets the thread-local Spark
job description to the layer's label.  The uncompressed, non-rolling event
log then attributes every job — including those of the overlapped s3/s4
threads — to a label, and :func:`parse_event_log` sums executor time,
GC, shuffle bytes, spill and task skew per label.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

DESC = "spark.job.description"

# event-log settings for the traced run only; timed runs use none of them
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


@dataclass
class Span:
    name: str
    start: float  # time.time() seconds
    end: float
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; ``patch`` swaps a function for a timed
    wrapper until ``restore``."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, label: str | None = None):
        prev = self.sc.getLocalProperty(DESC) if label else None
        if label:
            self.sc.setJobDescription(label)
        s = Span(name, time.time(), 0.0)
        try:
            yield s
        finally:
            s.end = time.time()
            if label:
                self.sc.setLocalProperty(DESC, prev)
            with self._lock:
                self.spans.append(s)

    def patch(self, owner, attr: str, name_of, label_of=None, after=None):
        """Replace ``owner.attr`` with a wrapper that runs the original in a
        span named ``name_of(*args, **kw)``; ``after(span, result)`` may
        record counts from the result."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kw):
            label = label_of(*args, **kw) if label_of else None
            with self.span(name_of(*args, **kw), label) as s:
                out = orig(*args, **kw)
                if after is not None:
                    out = after(s, out)
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


@dataclass
class LabelStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    stages_under_150ms: int = 0
    task_skew: float = 0.0  # max/median task run time of the heaviest stage
    heaviest_stage_ms: int = 0


def parse_event_log(path: str, window: tuple[float, float] | None = None) -> dict[str, LabelStats]:
    """Per job-description totals from an uncompressed event log.

    Only jobs submitted inside ``window`` (epoch seconds) count; jobs with
    no description are filed under ``""``."""
    stage_label: dict[int, str] = {}
    task_ms: dict[int, list[int]] = defaultdict(list)
    out: dict[str, LabelStats] = defaultdict(LabelStats)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                t = e["Submission Time"] / 1000.0
                if window and not window[0] <= t <= window[1]:
                    continue
                label = (e.get("Properties") or {}).get(DESC) or ""
                out[label].jobs += 1
                for sid in e["Stage IDs"]:
                    stage_label.setdefault(sid, label)
            elif ev == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                if sid not in stage_label:
                    continue
                m = e.get("Task Metrics") or {}
                st = out[stage_label[sid]]
                st.tasks += 1
                run = int(m.get("Executor Run Time", 0))
                st.executor_run_ms += run
                st.gc_ms += int(m.get("JVM GC Time", 0))
                st.shuffle_write_bytes += int(
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                )
                st.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(
                    m.get("Disk Bytes Spilled", 0)
                )
                st.input_bytes += int((m.get("Input Metrics") or {}).get("Bytes Read", 0))
                task_ms[sid].append(run)
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                sid = info["Stage ID"]
                if sid not in stage_label:
                    continue
                st = out[stage_label[sid]]
                st.stages += 1
                dur = info.get("Completion Time", 0) - info.get("Submission Time", 0)
                if dur < 150:
                    st.stages_under_150ms += 1
    for sid, runs in task_ms.items():
        st = out[stage_label[sid]]
        total = sum(runs)
        if total > st.heaviest_stage_ms:
            st.heaviest_stage_ms = total
            med = statistics.median(runs)
            st.task_skew = max(runs) / med if med > 0 else 1.0
    return dict(out)


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in (app_id, app_id + ".inprogress"):
        p = os.path.join(log_dir, name)
        if os.path.exists(p):
            return p
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
