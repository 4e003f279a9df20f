"""Layer spans for the benchmark, timed from Python and enriched with Spark's
own SQL metrics.

A ``Tracer`` wraps each call into a layer of the program. Untraced, a span is
a wall-clock and CPU-time timer and nothing else, so the end-to-end figures
carry no tracing cost. Traced, a span also sets a job group for its Spark actions and
clears it on exit (a job group otherwise sticks to every later action of the
thread), and notes which SQL executions started inside it.

``harvest`` runs once, after the measured iterations. It reads from the SQL
status store (the UI stays off) every execution a span started: shuffle
bytes written, the ``ArrowEvalPython`` worker run and init times and bytes
sent, the largest join output (the pre-verify candidates of a set join) and
the physical join operators the plans ended with, and counts each span's
Spark jobs through the status tracker. Spans are kept
in memory; ``write`` dumps them as one JSON file.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from proc import tree_cpu_s

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?\b")


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric: a plain count (``"1,234"``) or the
    first figure of a ``total (min, med, max ...)`` line (``"10.5 MiB"``,
    ``"1.2 s"``), in bytes or seconds."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.search(body)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value


@dataclass
class Span:
    layer: str
    step: str
    start_s: float
    wall_s: float = 0.0
    #: CPU seconds the run's process tree spent inside the span
    cpu_s: float = 0.0
    rows_out: int = 0
    group: str = ""
    #: SQL execution ids started inside the span: [first, end)
    executions: tuple[int, int] = (0, 0)
    metrics: dict[str, float] = field(default_factory=dict)
    #: physical join operators of those executions' final (adaptive) plans,
    #: e.g. BroadcastHashJoin or SortMergeJoin
    joins: list[str] = field(default_factory=list)


class Tracer:
    """Records one span per layer call; ``traced`` switches job groups and
    the SQL-metric harvest on."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[Span] = []
        self._origin = time.perf_counter()

    @contextmanager
    def span(self, layer: str, step: str):
        sc = self.spark.sparkContext
        sp = Span(layer, step, time.perf_counter() - self._origin)
        if self.traced:
            sp.group = f"perfbench-{len(self.spans)}-{layer}"
            first = self._next_execution_id()
            sc.setJobGroup(sp.group, f"{layer}:{step}")
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            sp.cpu_s = tree_cpu_s() - c0
            if self.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                sp.executions = (first, self._next_execution_id())
            self.spans.append(sp)

    # -- SQL status store -------------------------------------------------
    def _store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _wait_for_listeners(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def _next_execution_id(self) -> int:
        self._wait_for_listeners()
        jvm = self.spark.sparkContext._jvm
        execs = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            self._store().executionsList())
        n = execs.size()
        return execs.get(n - 1).executionId() + 1 if n else 0

    def harvest(self) -> None:
        """Fill ``metrics`` of every traced span; adds no Spark job."""
        if not self.traced:
            return
        self._wait_for_listeners()
        sc = self.spark.sparkContext
        jvm = sc._jvm
        scala_module = getattr(getattr(jvm.com.fasterxml.jackson.module.scala,
                                       "DefaultScalaModule$"), "MODULE$")
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper() \
            .registerModule(scala_module)
        store = self._store()
        for sp in self.spans:
            if not sp.group:
                continue
            m = {"spark_jobs": float(len(sc.statusTracker().getJobIdsForGroup(sp.group))),
                 "shuffle_bytes": 0.0, "py_run_s": 0.0, "py_init_s": 0.0,
                 "py_sent_bytes": 0.0, "join_rows_max": 0.0}
            for eid in range(*sp.executions):
                try:
                    values = json.loads(mapper.writeValueAsString(store.executionMetrics(eid)))
                    nodes = json.loads(mapper.writeValueAsString(store.planGraph(eid).allNodes()))
                except Py4JJavaError:  # an execution the store no longer holds
                    continue
                seen = set()
                for node in nodes:
                    if "Join" in node["name"]:
                        sp.joins.append(node["name"])
                    for metric in node["metrics"]:
                        acc = str(metric["accumulatorId"])
                        if acc in seen or acc not in values:
                            continue
                        seen.add(acc)
                        label, value = metric["name"], parse_metric(values[acc])
                        if label == "shuffle bytes written":
                            m["shuffle_bytes"] += value
                        elif "EvalPython" in node["name"]:
                            if label in ("time to run Python workers",
                                         "time to execute Python workers"):
                                m["py_run_s"] += value
                            elif label == "time to initialize Python workers":
                                m["py_init_s"] += value
                            elif label == "data sent to Python workers":
                                m["py_sent_bytes"] += value
                        elif "Join" in node["name"] and label == "number of output rows":
                            m["join_rows_max"] = max(m["join_rows_max"], value)
            sp.metrics = m

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([vars(s) for s in self.spans], f, indent=1)
