"""Tracing from outside the program: spans around each public call, and
a collector that reads Spark's own status stores over py4j after the
call returns (the UI stays disabled; the stores exist without it).

The collector walks the SQL executions recorded since the previous
offset, then the jobs each execution ran, then those jobs' stages.
Stages that adaptive execution skipped carry no timestamps and are
counted on their own. Plan shapes come from each execution's final
(post-adaptive) plan graph, and the Python-worker SQL metrics from the
Python nodes in that graph.
"""

from __future__ import annotations

import re
import time
from collections import Counter

# plan-graph node name -> per-layer counter
_SHAPES = {
    "Exchange": "plans.exchanges",
    "SortMergeJoin": "plans.smj_joins",
    "BroadcastNestedLoopJoin": "plans.nlj_joins",
    "CartesianProduct": "plans.nlj_joins",
    "Window": "plans.windows",
    "WindowGroupLimit": "plans.windows",
    "Sort": "plans.sorts",
}
_PYTHON_NODE = re.compile(
    r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsIn|FlatMapCoGroupsIn|AggregateInPandas|WindowInPandas|ArrowWindowPython"
)
_WRITE_METRICS = {
    "number of written files": "sinks.files_written",
    "written output": "sinks.bytes_written_mb",
    "number of output rows": "sinks.rows_written",
}
_PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}
_UNITS = {
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "min": 60.0,
    "h": 3600.0,
    "B": 1.0 / 2**20,
    "KiB": 1.0 / 2**10,
    "MiB": 1.0,
    "GiB": 2.0**10,
    "TiB": 2.0**20,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as the store renders it -> seconds, MiB or a count.
    Multi-task metrics render as ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first value on the last line."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Spans:
    """In-memory span log: (id, parent id, name, start, end) with
    ``time.perf_counter`` stamps relative to the log's creation."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.rows: list[dict] = []
        self._stack: list[int] = []

    def __call__(self, name: str):
        return _Span(self, name)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = Counter()
        for r in self.rows:
            if r["parent"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        out: Counter = Counter()
        for r in self.rows:
            out[r["name"]] += r["end"] - r["start"] - child[r["id"]]
        return dict(out)


class _Span:
    def __init__(self, log: Spans, name: str) -> None:
        self.log = log
        self.name = name

    def __enter__(self):
        self.id = len(self.log.rows)
        parent = self.log._stack[-1] if self.log._stack else None
        self.row = {"id": self.id, "parent": parent, "name": self.name,
                    "start": time.perf_counter() - self.log.t0, "end": None}
        self.log.rows.append(self.row)
        self.log._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        self.row["end"] = time.perf_counter() - self.log.t0
        self.log._stack.pop()
        return False

    @property
    def seconds(self) -> float:
        return self.row["end"] - self.row["start"]


class StatusCollector:
    """Reads what Spark ran since the previous ``collect`` call."""

    def __init__(self, spark) -> None:
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        newest = self._tail(1)
        self.last_id = newest[-1].executionId() if newest else -1

    def _tail(self, k: int) -> list:
        """The newest ``k`` executions the store retains, oldest first."""
        n = int(self.sql_store.executionsCount())
        if n == 0:
            return []
        seq = self.sql_store.executionsList(max(n - k, 0), min(k, n))
        return [seq.apply(i) for i in range(seq.size())]

    def _settled_executions(self, timeout_s: float = 5.0) -> list:
        """Executions newer than the last one collected, once each has
        its end recorded (the SQL listener writes the final state on its
        own thread). Found by id, so the store's eviction of old
        executions cannot shift them."""
        self.sc.listenerBus().waitUntilEmpty(int(timeout_s * 1000))
        deadline = time.perf_counter() + timeout_s
        while True:
            k = 16
            while True:
                tail = self._tail(k)
                new = [e for e in tail if e.executionId() > self.last_id]
                if len(new) < len(tail) or len(tail) < k:
                    break
                k *= 2
            if all(e.completionTime().isDefined() for e in new) or time.perf_counter() > deadline:
                if new:
                    self.last_id = new[-1].executionId()
                return new
            time.sleep(0.01)

    def collect(self) -> Counter:
        out: Counter = Counter()
        for e in self._settled_executions():
            out["exec.sql_executions"] += 1
            self._plan(e.executionId(), out)
            intervals = []
            it = e.jobs().keySet().iterator()
            while it.hasNext():
                job = self.store.job(it.next())
                out["exec.jobs"] += 1
                sit = job.stageIds().iterator()
                while sit.hasNext():
                    st = self.store.lastStageAttempt(sit.next())
                    if str(st.status()) == "SKIPPED":
                        out["exec.stages_skipped"] += 1
                        continue
                    out["exec.stages"] += 1
                    out["exec.tasks"] += st.numTasks()
                    out["exec.run_s"] += st.executorRunTime() / 1e3
                    out["exec.cpu_s"] += st.executorCpuTime() / 1e9
                    out["exec.shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                    out["exec.shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                    out["exec.spill_mb"] += (
                        st.memoryBytesSpilled() + st.diskBytesSpilled()
                    ) / 2**20
                    out["sources.input_mb"] += st.inputBytes() / 2**20
                    out["sources.input_rows"] += st.inputRecords()
                    if st.submissionTime().isDefined() and st.completionTime().isDefined():
                        intervals.append(
                            (st.submissionTime().get().getTime(),
                             st.completionTime().get().getTime())
                        )
            out["exec.critical_path_s"] += _union_ms(intervals) / 1e3
        return out

    def _plan(self, execution_id, out: Counter) -> None:
        graph = self.sql_store.planGraph(execution_id)
        values = self.sql_store.executionMetrics(execution_id)
        nodes = graph.allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            key = _SHAPES.get(name)
            if key:
                out[key] += 1
            if name.startswith("Scan ") or name.startswith("FileSourceScan"):
                out["plans.scans"] += 1
            if name == "InMemoryTableScan":
                out["plans.pinned_scans"] += 1
            if _PYTHON_NODE.search(name):
                out["plans.python_nodes"] += 1
                self._metrics(node, values, _PYTHON_METRICS, out)
            elif name.startswith("Execute InsertInto"):
                self._metrics(node, values, _WRITE_METRICS, out)

    @staticmethod
    def _metrics(node, values, wanted: dict[str, str], out: Counter) -> None:
        metrics = node.metrics()
        for k in range(metrics.size()):
            m = metrics.apply(k)
            target = wanted.get(m.name())
            if target:
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[target] += parse_metric(v.get())

    def pinned_mb(self) -> float:
        """Storage held by cached (pinned) frames, summed over RDDs."""
        infos = self.store.rddList(True)
        return sum(
            infos.apply(i).memoryUsed() + infos.apply(i).diskUsed()
            for i in range(infos.size())
        ) / 2**20


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] intervals: the time at least
    one stage was running, i.e. the stage critical path of a call."""
    total = 0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)
