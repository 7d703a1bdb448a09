"""Spans and Spark status-store counts for the traced benchmark run.

Spans are recorded from outside the program, around the benchmark's own
calls into the package's public functions. Counts come from the two
status stores Spark keeps even with ``spark.ui.enabled=false``: the SQL
store (per-operator metrics such as "data sent to Python workers") and
the core store (per-stage task totals). Both are read only between
timed calls.
"""

from __future__ import annotations

import contextlib
import re
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3,
}
_ENTRY = re.compile(r", (?=\d+ -> )")
_VALUE = re.compile(r"(-?[\d,]*\.?\d+)\s*(TiB|GiB|MiB|KiB|B|ns|ms|min|s|m|h)?(?![\w])")
# SQL metric name -> counter name; sizes in bytes, timings in ms
SQL_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "time to start Python workers": "python.worker_start_ms",
    "time to initialize Python workers": "python.worker_init_ms",
    "time to run Python workers": "python.run_ms",
    "sort time": "sort.time_ms",
}


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric ("1,234", "808.4 KiB", "1.2 s",
    or a "total (min, med, max ...)" summary whose first figure is the
    total). Sizes come back in bytes and timings in milliseconds."""
    m = _VALUE.search(text.rsplit("\n", 1)[-1])
    if m is None:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run: str
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(), self._stack[-1] if self._stack else None, self.run_id)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_seconds(self, index: int) -> float:
        """A span's duration minus the part its direct children cover."""
        kids = sum(s.seconds for s in self.spans if s.parent == index)
        return self.spans[index].seconds - kids

    def records(self) -> list[dict]:
        return [
            {
                "id": i, "name": s.name, "parent": s.parent, "run": s.run,
                "start": s.start, "end": s.end, "self_s": self.self_seconds(i),
                "counts": s.counts,
            }
            for i, s in enumerate(self.spans)
        ]


class StatusStore:
    """Reads per-execution counts for the SQL executions a call started."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._sc.statusStore()
        self._gateway = spark.sparkContext._gateway
        self._seen = self._drain()

    def _drain(self) -> int:
        self._sc.listenerBus().waitUntilEmpty()
        return self._sql.executionsCount()

    def counts_since_mark(self) -> Counter:
        """Counts summed over every execution since the previous call
        (or construction), after the listener bus has caught up.
        ``task.skew`` is that of the stage with the most task time."""
        n = self._drain()
        execs = self._sql.executionsList(self._seen, n - self._seen)
        self._seen = n
        total: Counter = Counter()
        largest = (0.0, 1.0)
        for i in range(execs.size()):
            e = execs.apply(i)
            total.update(self._sql_counts(e.executionId()))
            counts, stage = self._stage_counts(e.stages())
            total.update(counts)
            largest = max(largest, stage)
        total["task.skew"] = largest[1]
        return total

    def _sql_counts(self, execution_id: int) -> Counter:
        # one round trip for all values: "HashMap(12 -> 1,234, 13 -> 1.2 s)"
        text = self._sql.executionMetrics(execution_id).toString()
        inner = text[text.index("(") + 1 : -1]
        values = dict(
            (int(k), v) for k, v in (e.split(" -> ", 1) for e in _ENTRY.split(inner) if e)
        )
        nodes = self._sql.planGraph(execution_id).allNodes()
        out: Counter = Counter()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            if not ("Python" in name or "Pandas" in name or "Arrow" in name or name == "Sort"):
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                key = SQL_METRICS.get(m.name())
                text = values.get(m.accumulatorId())
                if key and text is not None:
                    out[key] += parse_metric(text)
        return out

    def _stage_counts(self, stage_ids) -> tuple[Counter, tuple[float, float]]:
        out: Counter = Counter()
        largest = (0.0, 1.0)
        no_status = self._gateway.jvm.java.util.ArrayList()
        no_quantiles = self._gateway.new_array(self._gateway.jvm.double, 0)
        it = stage_ids.iterator()
        while it.hasNext():
            attempts = self._app.stageData(it.next(), False, no_status, False, no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                run_s = st.executorRunTime() / 1e3
                out["task.run_s"] += run_s
                out["task.cpu_s"] += st.executorCpuTime() / 1e9
                out["task.gc_s"] += st.jvmGcTime() / 1e3
                out["task.count"] += st.numCompleteTasks()
                out["shuffle.bytes_written"] += st.shuffleWriteBytes()
                out["spill.bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["task.peak_mem_bytes"] += st.peakExecutionMemory()
                if run_s > largest[0]:
                    largest = (run_s, self._skew(st.stageId(), st.attemptId(), st.numTasks()))
        return out, largest

    def _skew(self, stage_id: int, attempt: int, n_tasks: int) -> float:
        """Max over median task duration of one stage attempt."""
        tasks = self._app.taskList(stage_id, attempt, n_tasks)
        durations = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durations.append(d.get())
        med = statistics.median(durations) if durations else 0
        return max(durations) / med if med else 1.0
