"""Spans around the engine's public calls, plus Spark's own counters.

A span is ``(name, start, end, parent, pass_id)``, kept in memory and
written out once at exit. Each call span can also read, after the call
returns, what Spark recorded for it: SQL plan metrics from the
session's SQL status store (it is fed by a listener, so it works with
``spark.ui.enabled=false``) and job ids from the status tracker. The
reads are plain JVM getters and start no Spark job; ``run.py`` checks
that by comparing job counts of passes with the reads on and off.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")

# (plan node name, SQL metric name) -> counter the span accumulates
_WANTED = {
    ("ArrowEvalPython", "time to run Python workers"): "python_s",
    ("MapInPandas", "time to run Python workers"): "python_s",
    ("ArrowEvalPython", "number of output rows"): "python_rows",
    ("Exchange", "shuffle bytes written"): "shuffle_bytes",
    ("BroadcastExchange", "data size"): "broadcast_bytes",
}
# raw accumulator unit -> seconds; sizes are bytes and sums are counts
_RAW_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}
COUNTERS = ("jobs", "python_s", "python_rows", "shuffle_bytes", "broadcast_bytes")


def parse_metric(text: str) -> float:
    """Turn Spark's formatted metric (``'1.2 s'``, or a
    ``'total (min, med, max ...)\\n1.2 s (...)'`` block) into a float in
    seconds, bytes or rows."""
    lines = text.strip().split("\n")
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkCounters:
    """Reads job and SQL-metric counters for one Spark session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jss = spark._jsparkSession
        self.store = jss.sharedState().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.tracker = self.sc.statusTracker()
        self.accumulators = spark._jvm.org.apache.spark.util.AccumulatorContext
        self.seen = self.store.executionsCount()

    def jobs(self, group: str) -> int:
        return len(self.tracker.getJobIdsForGroup(group))

    def skip(self) -> None:
        """Forget executions so far (work done while nobody traced)."""
        self.bus.waitUntilEmpty(10_000)
        self.seen = self.store.executionsCount()

    def since_last(self) -> dict:
        """Totals over SQL executions recorded since the last call."""
        self.bus.waitUntilEmpty(10_000)
        out = dict.fromkeys(COUNTERS[1:], 0.0)
        total = self.store.executionsCount()
        if total == self.seen:
            return out
        it = self.store.executionsList(self.seen, total - self.seen).iterator()
        self.seen = total
        while it.hasNext():
            eid = it.next().executionId()
            values = self.store.executionMetrics(eid)
            nodes = self.store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                metrics = node.metrics()
                for j in range(metrics.size()):
                    metric = metrics.apply(j)
                    key = _WANTED.get((node.name().strip(), metric.name()))
                    if key is None:
                        continue
                    out[key] += self._value(metric, values)
        return out

    def _value(self, metric, values) -> float:
        """The metric's raw value while its accumulator is still alive
        (the formatted text keeps only a few digits), else the text."""
        acc = self.accumulators.get(metric.accumulatorId())
        if acc.isDefined():
            return float(acc.get().value()) * _RAW_SCALE.get(metric.metricType(), 1.0)
        text = values.get(metric.accumulatorId())
        return parse_metric(text.get()) if text.isDefined() else 0.0


class Tracer:
    """Collects spans; with ``counters`` set, each call span also
    carries the Spark counters of the work it ran."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counters: SparkCounters | None = None
        self.read_counters = True
        self._stack: list[int] = []
        self.pass_id: str | None = None

    @contextlib.contextmanager
    def _open(self, name: str):
        rec = {
            "name": name,
            "pass_id": self.pass_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        """One public call. Counters are read after the span closes, so
        the read is charged to the pass, not to the call."""
        with self._open(name) as rec:
            yield rec
        if self.counters is not None and self.read_counters:
            rec.update(self.counters.since_last())

    @contextlib.contextmanager
    def run_pass(self, pass_id: str, kind: str):
        """Root span of one pass; tags its Spark jobs with a job group."""
        self.pass_id = pass_id
        sc = self.counters.sc
        if self.read_counters:
            self.counters.skip()
        sc.setJobGroup(pass_id, kind)
        try:
            with self._open(kind) as rec:
                yield rec
            rec["jobs"] = self.counters.jobs(pass_id)
            rec["reads"] = self.read_counters
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.pass_id = None

    def self_times(self) -> dict[str, list[float]]:
        """Span name -> self times (duration minus child durations)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s, c in zip(self.spans, child):
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - c)
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                rec = dict(s, id=i, start=s["start"] - t0, end=s["end"] - t0)
                fh.write(json.dumps(rec) + "\n")


class NoTracer:
    """Stand-in with the same interface that records nothing."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield {}

    @contextlib.contextmanager
    def run_pass(self, pass_id: str, kind: str):
        yield {}
