"""Tracing for the benchmark's traced run: spans, Spark job tagging, the
stream listener, and the Spark event-log parser.

* :class:`Tracer` records spans (name, start, end, parent) in memory around
  calls into the program's layers. When tagging is on, each span's Spark
  jobs carry the job group ``span-<id>``, so event-log counters can be
  attributed to the span that caused them.
* :func:`make_batch_listener` builds a ``StreamingQueryListener`` keeping
  each micro-batch's progress (rows and phase durations).
* :func:`parse_event_log` reads a Spark event log (JSON lines, as written
  with ``spark.eventLog.enabled=true`` and compression off) and
  :meth:`EventLog.counters` sums its task metrics over a set of jobs.
"""

from __future__ import annotations

import json
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0
PYTHON_SENT = "data sent to Python workers"
PYTHON_RETURNED = "data returned from Python workers"


class Tracer:
    """In-memory span recorder. ``tag_jobs`` sets the Spark job group of
    the calling thread to the innermost open span."""

    def __init__(self, spark=None, tag_jobs: bool = False):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext if (spark is not None and tag_jobs) else None

    @property
    def tagging(self) -> bool:
        return self._sc is not None

    def _tag(self, sid: int | None) -> None:
        if self._sc is None:
            return
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._tag(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)


def make_batch_listener():
    """A ``StreamingQueryListener`` that keeps every micro-batch's
    progress as a plain dict (batch id, input rows, trigger timestamp,
    phase durations in ms)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):  # noqa: N802 — pyspark API
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            self.batches.append({"batch_id": p.batchId,
                                 "rows": p.numInputRows,
                                 "timestamp": p.timestamp,
                                 "durations": dict(p.durationMs)})

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return BatchListener()


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

@dataclass
class StageStats:
    submit_ms: int = 0
    complete_ms: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    deserialize_ms: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    accums: Counter = field(default_factory=Counter)


@dataclass
class JobInfo:
    group: str | None
    batch_id: str | None
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur = 0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


@dataclass
class EventLog:
    jobs: dict[int, JobInfo]
    stages: dict[int, StageStats]

    def jobs_where(self, groups: set[str] | None = None,
                   streaming: bool = False) -> list[int]:
        """Job ids tagged with one of ``groups``, or run by a streaming
        micro-batch."""
        out = []
        for jid, j in self.jobs.items():
            if streaming and j.batch_id is not None:
                out.append(jid)
            elif groups is not None and j.group in groups:
                out.append(jid)
        return sorted(out)

    def counters(self, job_ids: list[int]) -> dict[str, float]:
        """Engine counters summed over the stages that ran for these jobs
        (a stage shared by several jobs, or skipped, counts once or not
        at all)."""
        sids = sorted({s for j in job_ids for s in self.jobs[j].stage_ids
                       if s in self.stages})
        st = [self.stages[s] for s in sids]
        acc: Counter = Counter()
        for s in st:
            acc.update(s.accums)
        return {
            "jobs": len(job_ids),
            "stages": len(st),
            "tasks": sum(s.tasks for s in st),
            "run_s": sum(s.run_ms for s in st) / 1e3,
            "cpu_s": sum(s.cpu_ns for s in st) / 1e9,
            "deserialize_s": sum(s.deserialize_ms for s in st) / 1e3,
            "gc_s": sum(s.gc_ms for s in st) / 1e3,
            "shuffle_read_mb": sum(s.shuffle_read for s in st) / MB,
            "shuffle_write_mb": sum(s.shuffle_write for s in st) / MB,
            "spill_mb": sum(s.spill for s in st) / MB,
            "python_mb": (acc[PYTHON_SENT] + acc[PYTHON_RETURNED]) / MB,
        }

    def busy_ms(self, job_ids: list[int]) -> tuple[int, int]:
        """(wall ms covered by at least one of these jobs, wall ms covered
        by at least one of their stages)."""
        jobs = [(self.jobs[j].submit_ms, self.jobs[j].end_ms) for j in job_ids]
        stages = [(self.stages[s].submit_ms, self.stages[s].complete_ms)
                  for j in job_ids for s in self.jobs[j].stage_ids
                  if s in self.stages]
        return _union_ms(jobs), _union_ms(stages)


def parse_event_log(path: str) -> EventLog:
    jobs: dict[int, JobInfo] = {}
    stages: dict[int, StageStats] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = JobInfo(
                    group=props.get("spark.jobGroup.id"),
                    batch_id=props.get("streaming.sql.batchId"),
                    submit_ms=e["Submission Time"],
                    stage_ids=list(e["Stage IDs"]))
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                s = stages.setdefault(info["Stage ID"], StageStats())
                s.submit_ms = info.get("Submission Time") or 0
                s.complete_ms = info.get("Completion Time") or 0
            elif kind == "SparkListenerTaskEnd":
                s = stages.setdefault(e["Stage ID"], StageStats())
                m = e.get("Task Metrics") or {}
                s.tasks += 1
                s.run_ms += m.get("Executor Run Time", 0)
                s.cpu_ns += m.get("Executor CPU Time", 0)
                s.deserialize_ms += m.get("Executor Deserialize Time", 0)
                s.gc_ms += m.get("JVM GC Time", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                s.shuffle_read += (rd.get("Remote Bytes Read", 0)
                                   + rd.get("Local Bytes Read", 0))
                s.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                s.spill += m.get("Disk Bytes Spilled", 0)
                for a in (e.get("Task Info") or {}).get("Accumulables", []):
                    if a.get("Name") in (PYTHON_SENT, PYTHON_RETURNED):
                        s.accums[a["Name"]] += int(a.get("Update") or 0)
    # a stage that never completed (skipped, or the log was cut) has no
    # timing; keep only stages that ran
    stages = {k: v for k, v in stages.items() if v.complete_ms}
    return EventLog(jobs, stages)
