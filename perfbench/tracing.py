"""Spans and outside-in counters for the traced run.

Spans are recorded by the benchmark around each call it makes into a layer
of the package; nothing inside the package is changed. Counters read Spark's
own bookkeeping (status tracker, SQL plan metrics, cache manager, GC beans)
and a wrapper on the py4j gateway client.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    op: str | None
    start: float
    end: float
    thread: str

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def self_ms(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children are counted once; parts outside the span are
    ignored)."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span.end - span.start - covered) * 1000.0


class Spans:
    """In-memory span recorder; a no-op unless ``enabled``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(next(self._ids), parent.id if parent else None, name,
                 op if op is not None else (parent.op if parent else None),
                 time.perf_counter(), 0.0, threading.current_thread().name)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.spans.append(s)

    def layers(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total ms, self ms (summed over calls)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            row = out.setdefault(s.name, {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
            row["calls"] += 1
            row["total_ms"] += s.ms
            row["self_ms"] += self_ms(s, kids.get(s.id, []))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


class Py4jCounter:
    """Counts gateway round-trips per Python thread by wrapping the gateway
    client's ``send_command``."""

    def __init__(self, sc):
        self._local = threading.local()
        client = sc._gateway._gateway_client
        inner = client.send_command

        def counted(*args, **kwargs):
            self._local.n = getattr(self._local, "n", 0) + 1
            return inner(*args, **kwargs)

        client.send_command = counted
        self._client, self._inner = client, inner

    def now(self) -> int:
        return getattr(self._local, "n", 0)

    def close(self) -> None:
        self._client.send_command = self._inner


_NUM = re.compile(r"^-?[\d,]+")


class SparkCounters:
    """Jobs, tasks, scan metrics, leftover caches and GC time, read from the
    JVM. Every call here costs py4j round-trips, so only the traced run
    creates one; callers subtract its own calls from the py4j counts by
    reading the counter before and after the code they measure."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._cache_field = None

    def drain(self) -> None:
        """Wait until listener events so far reach the status stores."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def jobs_and_tasks(self, group: str) -> tuple[list[int], int]:
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                st = tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        return jobs, tasks

    def execution_count(self) -> int:
        return int(self._sql_store.executionsCount())

    def scan_metrics(self, since: int, jobs: list[int]) -> dict[str, int]:
        """Sum the scan nodes' ``number of files read`` and ``number of
        output rows`` over SQL executions started after ``since`` that ran
        any of ``jobs``."""
        store = self._sql_store
        total = int(store.executionsCount())
        files = rows = 0
        wanted = set(jobs)
        execs = store.executionsList(since, max(total - since, 0))
        for i in range(execs.size()):
            e = execs.apply(i)
            ids = {int(x) for x in str(e.jobs().keys().mkString(",")).split(",") if x}
            if not ids & wanted:
                continue
            values = store.executionMetrics(e.executionId())
            nodes = store.planGraph(e.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not str(node.name()).startswith("Scan"):
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    name = str(metric.name())
                    if name not in ("number of files read", "number of output rows"):
                        continue
                    v = values.get(metric.accumulatorId())
                    match = _NUM.match(str(v.get())) if v.isDefined() else None
                    n = int(match.group(0).replace(",", "")) if match else 0
                    if name == "number of files read":
                        files += n
                    else:
                        rows += n
        return {"files_read": files, "rows_scanned": rows}

    def cache_entries(self) -> int:
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        if self._cache_field is None:
            for f in cm.getClass().getDeclaredFields():
                if str(f.getName()).endswith("cachedData"):
                    f.setAccessible(True)
                    self._cache_field = f
        return int(self._cache_field.get(cm).size())

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def gc_ms(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(int(beans.get(i).getCollectionTime()) for i in range(beans.size()))


class OpProbe:
    """Per-op counter snapshot: set a job group, then report py4j calls,
    jobs, tasks and scan metrics for the work done since."""

    def __init__(self, counters: SparkCounters, py4j: Py4jCounter, group: str):
        self.c, self.p, self.group = counters, py4j, group
        self.c.set_group(group)
        self.since = self.c.execution_count()
        self.py4j0 = self.p.now()

    def py4j_calls(self) -> int:
        return self.p.now() - self.py4j0

    def finish(self) -> dict[str, int]:
        calls = self.py4j_calls()
        self.c.drain()
        jobs, tasks = self.c.jobs_and_tasks(self.group)
        out = {"py4j_calls": calls, "jobs": len(jobs), "tasks": tasks}
        out.update(self.c.scan_metrics(self.since, jobs))
        return out
