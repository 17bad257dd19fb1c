"""Observation from outside the engine: spans, commit progress, event log.

* :class:`Spans` records a span around each public call the benchmark makes
  (workload, then phase or pass, then query or commit), keeps them in memory
  and writes them out once, when the run ends.
* :class:`CommitLog` is a public ``StreamingQueryListener`` that keeps the
  per-trigger ``durationMs`` of every streaming query.
* :func:`read_event_log` parses Spark's uncompressed JSON event log (the
  rolling ``eventlog_v2_*/events_*`` layout of Spark 4, or a single file)
  into jobs and stages keyed by job group and by streaming batch.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class Spans:
    """In-memory spans: name, start, end, parent id and attributes.  Spans
    may be opened from several threads."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._lock = threading.Lock()

    def _append(self, rec: dict) -> dict:
        with self._lock:
            rec["id"] = len(self.records)
            self.records.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        rec = self._append({"id": None, "parent": parent, "name": name,
                            "start": time.monotonic(), "end": None, **attrs})
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()

    def add(self, name: str, parent: dict, seconds: float, **attrs) -> dict:
        """Record a span whose duration was measured elsewhere (a streaming
        trigger reported by the listener)."""
        return self._append({"id": None, "parent": parent["id"], "name": name,
                             "start": None, "end": None, "seconds": seconds, **attrs})

    @staticmethod
    def duration(rec: dict) -> float:
        if rec["start"] is None:
            return rec["seconds"]
        return rec["end"] - rec["start"]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.records, fh, indent=0)


class CommitLog:
    """Collects ``StreamingQueryProgress`` of every trigger, per query id.

    Built lazily so that importing this module needs no Spark session.
    """

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self._lock = threading.Lock()
        self.progress: dict[str, list[dict]] = {}
        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {"batch_id": p.batchId, "rows": p.numInputRows,
                       "trigger_ms": p.durationMs.get("triggerExecution"),
                       "add_batch_ms": p.durationMs.get("addBatch")}
                with log._lock:
                    log.progress.setdefault(str(p.id), []).append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def wait_for(self, query_id: str, n: int, timeout_s: float = 30.0) -> list[dict]:
        """The first ``n`` progress records of a query (listener events are
        delivered asynchronously after the query returns)."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                recs = [r for r in self.progress.get(query_id, []) if r["rows"]]
            if len(recs) >= n or time.monotonic() > deadline:
                return sorted(recs, key=lambda r: r["batch_id"])[:n]
            time.sleep(0.05)


# ---------------------------------------------------------------- event log

#: SQL metric names of the ``MapInPandas`` / Arrow Python runners
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Stage:
    stage_id: int
    wall_ms: float = 0.0
    task_ms: list[float] = field(default_factory=list)
    run_ms: float = 0.0
    shuffle_write: int = 0
    python_ms: float = 0.0
    arrow_sent: int = 0
    arrow_returned: int = 0
    completed: bool = False


@dataclass
class Job:
    job_id: int
    group: str | None
    query_id: str | None
    batch_id: int | None
    stage_ids: list[int]


@dataclass
class EventLog:
    jobs: list[Job]
    stages: dict[int, Stage]

    def select(self, group: str | None = None, query_id: str | None = None,
               batch_id: int | None = None) -> "Summary":
        jobs = [j for j in self.jobs
                if (group is None or j.group == group)
                and (query_id is None or j.query_id == query_id)
                and (batch_id is None or j.batch_id == batch_id)]
        ids = {s for j in jobs for s in j.stage_ids}
        return Summary(len(jobs), [self.stages[s] for s in sorted(ids)
                                   if s in self.stages and self.stages[s].completed])


@dataclass
class Summary:
    """Jobs and executed stages of one query run or one streaming commit."""

    jobs: int
    stages: list[Stage]

    @property
    def shuffle_bytes(self) -> int:
        return sum(s.shuffle_write for s in self.stages)

    @property
    def executor_run_s(self) -> float:
        return sum(s.run_ms for s in self.stages) / 1000.0

    @property
    def python_s(self) -> float:
        return sum(s.python_ms for s in self.stages) / 1000.0

    @property
    def arrow_sent(self) -> int:
        return sum(s.arrow_sent for s in self.stages)

    @property
    def arrow_returned(self) -> int:
        return sum(s.arrow_returned for s in self.stages)

    @property
    def task_skew(self) -> float:
        """Max over median task time of the slowest stage (1.0 if none)."""
        timed = [s for s in self.stages if s.task_ms]
        if not timed:
            return 1.0
        slow = max(timed, key=lambda s: s.wall_ms)
        med = statistics.median(slow.task_ms)
        return max(slow.task_ms) / med if med > 0 else 1.0


def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    files = []
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith("events_") and not n.endswith(".crc"):
                files.append(os.path.join(root, n))

    def index(p: str) -> int:
        try:
            return int(os.path.basename(p).split("_")[1])
        except (IndexError, ValueError):
            return 0

    return sorted(files, key=index)


def _accum(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables", []):
        if a.get("Name") == name:
            try:
                return float(a.get("Update", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def read_event_log(path: str) -> EventLog:
    """Parse every event file under ``path`` (a directory or one file)."""
    jobs: list[Job] = []
    stages: dict[int, Stage] = {}

    def stage(sid: int) -> Stage:
        return stages.setdefault(sid, Stage(sid))

    for fname in _event_files(path):
        with open(fname) as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a partly written last line
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    batch = props.get("streaming.sql.batchId")
                    jobs.append(Job(
                        e["Job ID"], props.get("spark.jobGroup.id"),
                        props.get("sql.streaming.queryId"),
                        int(batch) if batch is not None else None,
                        list(e.get("Stage IDs", [])),
                    ))
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    s = stage(info["Stage ID"])
                    sub, done = info.get("Submission Time"), info.get("Completion Time")
                    if sub is not None and done is not None:
                        s.wall_ms = float(done - sub)
                    s.completed = "Failure Reason" not in info
                elif kind == "SparkListenerTaskEnd":
                    s = stage(e["Stage ID"])
                    info = e.get("Task Info") or {}
                    m = e.get("Task Metrics") or {}
                    if info.get("Finish Time") and info.get("Launch Time"):
                        s.task_ms.append(float(info["Finish Time"] - info["Launch Time"]))
                    s.run_ms += m.get("Executor Run Time", 0)
                    s.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    s.python_ms += _accum(info, PY_TIME)
                    s.arrow_sent += int(_accum(info, PY_SENT))
                    s.arrow_returned += int(_accum(info, PY_RETURNED))
    return EventLog(jobs, stages)
