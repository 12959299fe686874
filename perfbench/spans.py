"""Spans around the benchmark's calls into the package's layers.

A :class:`Tracer` records one span per layer call (name, start, end,
parent, run id).  Each span runs under its own Spark job group; when it
ends, the tracer waits for the listener bus to drain and reads, from
the JVM status stores over py4j,

* the stage metrics of the span's jobs (run time, CPU, GC, shuffle
  read/write, spill, input records, tasks and failed tasks), and
* the Python-worker time of the SQL executions the span started (the
  ``time to run Python workers`` metric of ArrowEvalPython,
  MapInPandas, FlatMapGroupsInPandas and the other Python nodes).

A layer's self time is its span's duration minus the time its child
spans cover.  Spans stay in memory until the run summarises them.
"""

from __future__ import annotations

import re
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: stage fields summed per span, by their per-layer metric name
_STAGE_FIELDS = {
    "exec.run_s": ("executorRunTime", 1e-3),
    "exec.cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "exec.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "exec.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "exec.spill_bytes": None,  # memory + disk spill, summed below
    "exec.tasks": ("numCompleteTasks", 1),
    "exec.task_failures": ("numFailedTasks", 1),
    "exec.input_records": ("inputRecords", 1),
}

EXEC_METRICS = tuple(k for k in _STAGE_FIELDS if k != "exec.input_records")

_PY_TIME_METRIC = "time to run Python workers"
_DURATION = re.compile(r"([0-9]+(?:\.[0-9]+)?) (ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


@dataclass
class Span:
    index: int
    name: str
    start: float
    parent: int | None
    run_id: str
    group: str
    end: float = 0.0
    stats: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for one benchmark run."""

    def __init__(self, spark):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._jsc = spark.sparkContext._jsc.sc()
        self._status = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    # -- recording ---------------------------------------------------------

    @contextmanager
    def span(self, name: str, extra_groups=()):
        """Time the block as layer ``name``.  ``extra_groups`` yields job
        groups started by other threads inside the block (a streaming
        query runs its batches under its own run id)."""
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        group = f"{self.run_id}:{len(self.spans)}:{name}"
        outer_group = self.spans[parent].group if parent is not None else None
        sql_before = self._sql.executionsCount()
        sp = Span(len(self.spans), name, time.perf_counter(), parent, self.run_id, group)
        self.spans.append(sp)
        self._stack.append(sp.index)
        sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if outer_group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(outer_group, self.spans[parent].name)
            self._jsc.listenerBus().waitUntilEmpty()
            groups = [group, *(extra_groups() if callable(extra_groups) else extra_groups)]
            sp.stats = self._stage_stats(groups)
            # the execution window includes the child spans' executions
            children = sum(
                c.stats.get("arrow.python_s", 0.0)
                for c in self.spans
                if c.parent == sp.index
            )
            sp.stats["arrow.python_s"] = self._python_seconds(sql_before) - children

    def _stage_stats(self, groups) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        out = {k: 0.0 for k in _STAGE_FIELDS}
        seen = set()
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = self._status.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                        continue
                    for k, spec in _STAGE_FIELDS.items():
                        if spec is None:
                            out[k] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                        else:
                            out[k] += getattr(st, spec[0])() * spec[1]
        return out

    def _python_seconds(self, sql_before: int) -> float:
        """Sum of the Python-worker time metrics over the SQL executions
        started since ``sql_before`` executions existed."""
        n = self._sql.executionsCount() - sql_before
        if n <= 0:
            return 0.0
        execs = self._sql.executionsList(sql_before, n)
        total = 0.0
        for i in range(execs.size()):
            ex = execs.apply(i)
            ids = []
            metrics = ex.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() == _PY_TIME_METRIC:
                    ids.append(m.accumulatorId())
            if not ids:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            for acc in ids:
                opt = values.get(acc)
                text = opt.get() if opt.isDefined() else ""
                total += _total_seconds(text)
        return total

    # -- summarising -------------------------------------------------------

    def self_times(self, spans=None) -> dict:
        """{layer name: (calls, total seconds, self seconds)} over
        ``spans`` (default: all)."""
        spans = self.spans if spans is None else spans
        child_time = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child_time[s.parent] += s.duration
        out: dict = {}
        for s in spans:
            calls, total, own = out.get(s.name, (0, 0.0, 0.0))
            out[s.name] = (
                calls + 1,
                total + s.duration,
                own + s.duration - child_time[s.index],
            )
        return out

    def totals(self, spans=None) -> dict:
        """Stage and Python-time metrics summed over ``spans``; each
        span's stats cover only its own jobs, so nothing counts twice."""
        spans = self.spans if spans is None else spans
        out = defaultdict(float)
        for s in spans:
            for k, v in s.stats.items():
                out[k] += v
        return dict(out)


def _total_seconds(text: str) -> float:
    """The total of a Spark timing metric's rendered value, e.g.
    ``"total (min, med, max ...)\\n1.2 s (10 ms, ...)"``."""
    body = text.split("\n", 1)[-1]
    m = _DURATION.search(body)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0
