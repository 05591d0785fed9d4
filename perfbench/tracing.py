"""In-memory spans around the benchmark's calls into each layer, plus the
per-node SQL metrics Spark records for the executions a span ran.

A span is (id, name, pass, parent, start, end) with the range of SQL
execution ids that started inside it. Spark's SQL status store keeps the
executed plan graph and its metrics even with the UI disabled; metrics are
read after the traced pass ends, so reading them costs no span time.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

_SCALE = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")

PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
SHUFFLE_WRITTEN = "shuffle bytes written"
OUTPUT_ROWS = "number of output rows"

# (metric, unit) for every per-layer metric the traced run reports
LAYER_METRICS = [
    ("readers.busy_s", "s"), ("readers.pages", "count"), ("readers.python_s", "s"),
    ("sentences.busy_s", "s"), ("sentences.pages_with_text", "count"),
    ("tagger.busy_s", "s"), ("tagger.mentions", "count"), ("tagger.python_s", "s"),
    ("ner.busy_s", "s"), ("ner.mentions", "count"), ("ner.python_s", "s"),
    ("ner.python_boot_s", "s"), ("ner.arrow_mb_in", "MB"), ("ner.arrow_mb_out", "MB"),
    ("setup.python_boot_s", "s"),
    ("bert.forward_tokens_per_s", "tokens/s"), ("bert.pad_ratio", "ratio"),
    ("normalize.busy_s", "s"), ("normalize.distinct_surfaces", "count"),
    ("normalize.resolved_ratio", "ratio"), ("normalize.driver_path", "flag"),
    ("triples.busy_s", "s"), ("triples.rows", "count"), ("triples.count_sum", "count"),
    ("triples.shuffle_mb", "MB"),
    ("graph.busy_s", "s"), ("graph.nodes", "count"), ("graph.edges", "count"),
    ("sink.busy_s", "s"), ("sink.mb_written", "MB"),
    ("ledger.crash_run_s", "s"), ("ledger.resume_s", "s"), ("ledger.bucket_s", "s"),
    ("ledger.buckets_skipped", "count"), ("ledger.parses_per_page", "ratio"),
    ("spark.jobs_per_pass", "count"), ("spark.tasks_per_pass", "count"),
    ("trace.overhead_ratio", "ratio"),
]
# printed only in the receipt line: 0 by construction on some workloads (a
# parquet scan runs no Python; warm passes reuse Python workers), and the
# result line carries only metrics measured on every workload
RECEIPT_ONLY = {"readers.python_s", "ner.python_boot_s", "setup.python_boot_s"}


def metric_total(text: str) -> float:
    """Total of a formatted SQL metric: ``'1,000'``, ``'12 ms'`` or
    ``'total (min, med, max ...)\\n3.4 s (158 ms, ...)'`` → seconds, bytes
    or a plain count."""
    line = text.strip().split("\n")[-1]
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


class SqlMetrics:
    """Reads finished SQL executions from the session's status store."""

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen: set[int] = set()
        self._read_upto = 0

    def _java(self, seq):
        return self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    def next_id(self) -> int:
        return int(self._store.executionsCount())

    def _wait_finished(self, first: int, upto: int, timeout: float = 10.0) -> None:
        """The listener bus updates the store asynchronously: wait until
        executions [first, upto) all have their end event recorded."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline and not all(
            self._store.execution(i).get().completionTime().isDefined()
            for i in range(first, upto)
            if self._store.execution(i).isDefined()
        ):
            time.sleep(0.05)

    def _nodes(self, eid: int) -> list[tuple[str, str, dict[str, float]]]:
        """(node name, node description, {metric name: total}) for the plan
        nodes of one finished execution that carry new metrics. A cached
        relation shows its source plan, with that plan's metrics from when
        the cache was built, inside every later plan that reads it; such
        nodes were reported with the earlier execution and are left out,
        so call this in execution order."""
        if not self._store.execution(eid).isDefined():
            return []
        values = self._java(self._store.executionMetrics(eid))
        out = []
        for node in self._java(self._store.planGraph(eid).allNodes()):
            ms = list(self._java(node.metrics()))
            ids = {m.accumulatorId() for m in ms}
            if not ids or ids <= self._seen:
                continue
            self._seen |= ids
            metrics = {
                m.name(): metric_total(values.get(m.accumulatorId()))
                for m in ms
                if values.get(m.accumulatorId()) is not None
            }
            out.append((node.name(), node.desc(), metrics))
        return out

    def read_new(self) -> list[tuple[int, list]]:
        """(execution id, new plan nodes) for every execution that
        finished since the last call, in execution order."""
        upto = self.next_id()
        self._wait_finished(self._read_upto, upto)
        out = [(eid, self._nodes(eid)) for eid in range(self._read_upto, upto)]
        self._read_upto = upto
        return out


class Tracer:
    """Spans kept in memory; ``write`` stores them when the run ends."""

    def __init__(self, sql: SqlMetrics):
        self.sql = sql
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: str | None = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "pass": self.pass_id,
            "parent": self._stack[-1] if self._stack else None,
            "exec_first": self.sql.next_id(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["exec_upto"] = self.sql.next_id()

    def busy_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self._named(name))

    def _named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["pass"] == self.pass_id]

    def collect_sql(self) -> None:
        """Hand each newly finished SQL execution to the innermost span it
        started in."""
        for eid, nodes in self.sql.read_new():
            owners = [s for s in self.spans if s["exec_first"] <= eid < s.get("exec_upto", 0)]
            if owners:
                owner = max(owners, key=lambda s: (s["exec_first"], s["id"]))
                owner.setdefault("sql", []).extend(nodes)

    def sql_nodes(self, name: str, nodes=(), desc: str = "") -> list[dict[str, float]]:
        """Metrics of the span's plan nodes whose name starts with one of
        ``nodes`` and whose description contains ``desc``."""
        return [
            m
            for s in self._named(name)
            for n, d, m in s.get("sql", [])
            if n.startswith(tuple(nodes)) and desc in d
        ]

    def sql_sum(self, name: str, metric: str, nodes=(), desc: str = "") -> float:
        return sum(m.get(metric, 0.0) for m in self.sql_nodes(name, nodes, desc))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
