"""Spans and Spark status read from outside the engine.

Nothing here hooks into the package: spans wrap the benchmark's own
calls into each layer, and Spark's in-process status is read from the
status tracker, the application status store (jobs and stages), the SQL
status store (SQL metrics and plan graphs, populated with the UI off)
and ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from dataclasses import dataclass, field


class Tracer:
    """In-memory span recorder, written out once at the end of a run.

    Times are seconds since the tracer was created. A disabled tracer
    keeps nothing, so the untraced run pays only a clock read."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._perf0 = time.perf_counter()
        self._epoch0 = time.time()

    def now(self) -> float:
        return time.perf_counter() - self._perf0

    def from_epoch_ms(self, ms: float) -> float:
        return ms / 1000.0 - self._epoch0

    def add(self, name, start, end, parent=None, op=None, **attrs) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "op": op, **attrs}
        )
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name, parent=None, op=None, **attrs):
        """Yield the span id (None when disabled); the end time is set
        when the block exits, also on error."""
        sid = self.add(name, self.now(), None, parent, op, **attrs)
        try:
            yield sid
        finally:
            if sid is not None:
                self.spans[sid]["end"] = self.now()

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part of it its children cover, summed
        per span name."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(
                (max(a, s["start"]), min(b, s["end"]))
                for a, b in kids.get(s["id"], [])
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


def union_length(intervals) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class JobStats:
    """Spark work attributed to one window of job ids."""

    jobs: list[tuple[int, float, float]] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class SqlStats:
    """SQL executions finished since the previous read."""

    executions: int = 0
    exchanges: int = 0
    py: dict[str, float] = field(default_factory=dict)


#: SQL metric names of the Python exec nodes -> per-layer metric name.
PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_sent_mb",
    "data returned from Python workers": "py_returned_mb",
}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
_VALUE = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL timing/size metric, in seconds or MiB.

    The status store formats these as ``total (min, med, max ...)\\n5.7 s
    (...)``; the total is the first value on the last line."""
    m = _VALUE.search(text.strip().splitlines()[-1])
    if m is None or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class SparkStatus:
    """Reads jobs, stages, SQL executions and storage from the live
    SparkContext through py4j. Every read first drains the listener bus,
    so the stores have seen every event of the work just finished."""

    def __init__(self, spark) -> None:
        self._ssc = spark.sparkContext._jsc.sc()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._app = self._ssc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_exec = 0
        self.skip_executions()

    def drain(self) -> None:
        self._ssc.listenerBus().waitUntilEmpty()

    def next_job_id(self) -> int:
        return self._ssc.dagScheduler().numTotalJobs()

    def store_mb(self) -> float:
        """In-memory size of every cached RDD (the table store)."""
        return sum(i.memSize() for i in self._ssc.getRDDStorageInfo()) / 2**20

    def jobs(self, first: int, end: int) -> JobStats:
        """Jobs with ids in ``[first, end)`` and the stages they ran.

        A stage shared by several jobs counts once; a skipped stage (its
        shuffle output reused) ran no tasks and adds nothing."""
        self.drain()
        out = JobStats()
        seen: set[int] = set()
        for jid in range(first, end):
            job = self._app.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out.jobs.append(
                    (jid, sub.get().getTime(), done.get().getTime())
                )
            for sid in self._conv.asJava(job.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._app.lastStageAttempt(sid)
                ran = st.numCompleteTasks() + st.numFailedTasks()
                if ran == 0:
                    continue
                out.stages += 1
                out.tasks += ran
                out.failed_tasks += st.numFailedTasks()
                out.task_s += st.executorRunTime() / 1000.0
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def skip_executions(self) -> None:
        """Forget executions so far (set-up work is not attributed)."""
        self.drain()
        while self._sql.execution(self._next_exec).isDefined():
            self._next_exec += 1

    def executions(self) -> SqlStats:
        self.drain()
        out = SqlStats()
        while True:
            ex = self._sql.execution(self._next_exec)
            if not ex.isDefined():
                return out
            eid = self._next_exec
            self._next_exec += 1
            out.executions += 1
            names = {
                m.accumulatorId(): m.name()
                for m in self._conv.asJava(ex.get().metrics())
                if m.name() in PY_METRICS
            }
            if names:
                values = self._conv.asJava(self._sql.executionMetrics(eid))
                for acc, name in names.items():
                    if values.containsKey(acc):
                        key = PY_METRICS[name]
                        out.py[key] = out.py.get(key, 0.0) + parse_metric(
                            values.get(acc)
                        )
            out.exchanges += sum(
                1
                for n in self._conv.asJava(self._sql.planGraph(eid).allNodes())
                if n.name() == "Exchange"
            )
