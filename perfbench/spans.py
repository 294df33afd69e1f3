"""Spans around calls into the package, plus the Spark status-store
counters attributed to each span.

Every span gets its own Spark job group, so the jobs it starts (and the SQL
executions those jobs belong to) can be read back from the status stores
after the call: the SQL plan-node metrics (scan bytes, exchange bytes,
Python-worker times, broadcast sizes, row counts) and the per-stage task
numbers. Spans stay in memory and are written out once, when the run ends.

With tracing off, :meth:`Tracer.span` records nothing and sets no job group,
so untraced timings carry no tracing cost.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def metric_value(text: str | None) -> float:
    """Parse a status-store metric string to a number in base units
    (bytes, seconds, rows). Per-task metrics read
    ``"total (min, med, max (stageId: taskId))\\n8.0 s (2.0 s, ...)"``;
    the total is the first figure of the last line. Averaged metrics
    (``"(min, med, max ...)\\n(1.0, 1.0, ...)"``) have no total and read 0."""
    if not text:
        return 0.0
    head = text.strip().split("\n")[-1].split(" (")[0].split()
    try:
        value = float(head[0].replace(",", ""))
    except ValueError:
        return 0.0
    return value * _UNITS.get(head[1], 1.0) if len(head) > 1 else value


@dataclass
class Span:
    name: str
    run_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class CallStats:
    """Status-store numbers for the jobs of one or more spans."""

    jobs: int = 0
    tasks: int = 0
    task_skew: float = 0.0
    shuffle_bytes: float = 0.0
    nodes: dict = field(default_factory=lambda: defaultdict(int))
    metrics: dict = field(default_factory=lambda: defaultdict(float))

    def node_metric(self, node: str, metric: str) -> float:
        return self.metrics.get((node, metric), 0.0)

    def any_node_metric(self, metric: str) -> float:
        return sum(v for (_, m), v in self.metrics.items() if m == metric)


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._exec_seen = 0
        self._exec_jobs: dict[int, set[int]] = {}
        self._exec_nodes: dict[int, list[tuple[str, dict]]] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name=name, run_id=self.run_id, span_id=len(self.spans),
            parent=parent.span_id if parent else None, start=time.perf_counter(),
        )
        s.group = f"{self.run_id}-{s.span_id}"
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    # ----------------------------------------------------------- read-back

    def descendants(self, root: Span) -> list[Span]:
        out, frontier = [root], {root.span_id}
        for s in self.spans[root.span_id + 1 :]:
            if s.parent in frontier:
                out.append(s)
                frontier.add(s.span_id)
        return out

    def self_seconds(self, s: Span) -> float:
        """Span time minus the time its direct children cover."""
        kids = sorted(
            (c.start, c.end) for c in self.spans[s.span_id + 1 :] if c.parent == s.span_id
        )
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in kids:
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return s.seconds - covered

    def _job_ids(self, spans: list[Span]) -> set[int]:
        tracker = self.spark.sparkContext.statusTracker()
        ids: set[int] = set()
        for s in spans:
            ids.update(tracker.getJobIdsForGroup(s.group))
        return ids

    def _refresh_executions(self) -> None:
        store = self.spark._jsparkSession.sharedState().statusStore()
        total = store.executionsCount()
        if total <= self._exec_seen:
            return
        it = store.executionsList(self._exec_seen, total - self._exec_seen).iterator()
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            self._exec_jobs[eid] = {int(j) for j in _iter(e.jobs().keySet())}
            values = store.executionMetrics(eid)
            nodes = []
            for node in _iter(store.planGraph(eid).allNodes()):
                got = {}
                for m in _iter(node.metrics()):
                    opt = values.get(m.accumulatorId())
                    got[m.name()] = metric_value(opt.get() if opt.isDefined() else None)
                nodes.append((node.name().strip(), got))
            self._exec_nodes[eid] = nodes
        self._exec_seen = total

    def call_stats(self, spans: list[Span]) -> CallStats:
        """Jobs, tasks, shuffle bytes, task skew and plan-node metrics of
        every job started inside ``spans`` (descendants included)."""
        every: list[Span] = []
        for s in spans:
            every.extend(self.descendants(s))
        jobs = self._job_ids(every)
        self._refresh_executions()
        out = CallStats(jobs=len(jobs))
        for eid, ejobs in self._exec_jobs.items():
            if not ejobs & jobs:
                continue
            for node, got in self._exec_nodes[eid]:
                out.nodes[node] += 1
                for metric, value in got.items():
                    out.metrics[(node, metric)] += value
        tracker = self.spark.sparkContext.statusTracker()
        app = self.spark.sparkContext._jsc.sc().statusStore()
        slowest, slowest_run = None, -1.0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = app.lastStageAttempt(sid)
                except Exception:  # stage never ran (skipped)
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                out.tasks += st.numTasks()
                out.shuffle_bytes += st.shuffleWriteBytes()
                if st.executorRunTime() > slowest_run:
                    slowest, slowest_run = st, st.executorRunTime()
        if slowest is not None:
            durations = [
                t.duration().get() for t in _iter(app.taskList(slowest.stageId(), slowest.attemptId(), 100_000))
                if t.duration().isDefined()
            ]
            med = statistics.median(durations) if durations else 0
            out.task_skew = max(durations) / med if med else 1.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [dict(asdict(s), seconds=s.seconds, self_seconds=self.self_seconds(s)) for s in self.spans],
                fh,
            )


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()
