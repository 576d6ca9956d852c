"""Spans around the engine's public functions, recorded from the
benchmark's own code, plus Spark's own per-node counters per span.

A span is opened around a call into a module's public function. While
it is open, the Spark job description is the span's name, so every SQL
execution the call starts carries that name. After the run, the SQL
status store (kept by the driver even with the UI disabled) is read
once and each execution's node metrics are added to the span named by
its description: the innermost span open when the execution started.

Spans stay in memory and are written to one file when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import statistics
import time

# Spark SQL node metric (node prefix, metric name) -> span counter.
# Times are seconds, sizes bytes.
COUNTERS = {
    ("ArrowEvalPython", "time to start Python workers"): "py_start_s",
    ("ArrowEvalPython", "time to initialize Python workers"): "py_init_s",
    ("ArrowEvalPython", "time to run Python workers"): "py_run_s",
    ("ArrowEvalPython", "data sent to Python workers"): "py_bytes_out",
    ("ArrowEvalPython", "data returned from Python workers"): "py_bytes_in",
    ("Exchange", "shuffle bytes written"): "shuffle_bytes",
    ("Exchange", "shuffle write time"): "shuffle_write_s",
}
# counters a span can carry besides its duration ``s``
SPAN_COUNTERS = set(COUNTERS.values()) | {"skew", "scan_rows"}
# every Python-evaluating node reports the same worker metrics
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "BatchEvalPython",
                "AggregateInPandas", "WindowInPandas", "MapInArrow")

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A status-store metric string ('2.0 s', '1585.6 KiB', '45,423')
    as a number in seconds, bytes or a plain count."""
    last = text.strip().splitlines()[-1]
    m = _NUM.match(last)
    if not m:
        raise ValueError(f"unparsed Spark metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """In-memory span recorder for one run of one workload."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self.captured: dict[str, object] = {}

    def add_span(self, name: str, start: float, end: float) -> None:
        """A top-level span timed by the caller (relative seconds)."""
        self.spans.append({"name": name, "run_id": self.run_id,
                           "id": len(self.spans), "parent": None,
                           "start": start, "end": end, "s": end - start})

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "run_id": self.run_id,
               "id": len(self.spans),
               "parent": parent["id"] if parent else None,
               "start": time.perf_counter() - self.t0}
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext
        sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            rec["s"] = rec["end"] - rec["start"]
            self._stack.pop()
            sc.setJobDescription(parent["name"] if parent else None)

    def wrap(self, owner, attr: str, name_of):
        """Replace ``owner.attr`` by a wrapper that opens the span
        ``name_of(*args, **kwargs)`` around each call (``None``: no
        span). Undone by ``unwrap_all``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            name = name_of(*args, **kwargs)
            if name is None:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def capture(self, owner, attr: str, key: str) -> None:
        """Keep the latest return value of ``owner.attr`` under
        ``self.captured[key]``. Undone by ``unwrap_all``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            out = fn(*args, **kwargs)
            self.captured[key] = out
            return out

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    # -- Spark counters ------------------------------------------------

    def attach_spark_counters(self) -> None:
        """Add each SQL execution's node counters to the span its
        description names (the last span recorded under that name)."""
        by_name = {s["name"]: s for s in self.spans}
        jvm = self.spark._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = self.spark._jsparkSession.sharedState().statusStore()
        app_store = self.spark._jsc.sc().statusStore()
        execs = conv.asJava(store.executionsList())
        for e in execs:
            span = by_name.get(e.description())
            if span is None:
                continue
            eid = e.executionId()
            values = {ent.getKey(): ent.getValue() for ent in
                      conv.asJava(store.executionMetrics(eid)).entrySet()}
            for node in conv.asJava(store.planGraph(eid).allNodes()):
                self._add_node(span, node.name(), conv.asJava(node.metrics()),
                               values)
            for job_id in conv.asJava(e.jobs()).keySet():
                self._add_skew(span, app_store, conv, job_id)
        for s in self.spans:
            reads = s.pop("_reads", None)
            if reads:
                s["skew"] = max(s.get("skew", 0.0), max(
                    max(r) / statistics.median(r) for r in reads))

    def _add_node(self, span, node_name, metrics, values) -> None:
        kind = node_name.split(" ")[0]
        if kind in PYTHON_NODES:
            kind = "ArrowEvalPython"
        for m in metrics:
            key = COUNTERS.get((kind, m.name()))
            raw = values.get(m.accumulatorId())
            if kind == "Scan" and m.name() == "number of output rows" \
                    and raw is not None:
                span["scan_rows"] = span.get("scan_rows", 0) + \
                    parse_metric(raw)
            if key is None or raw is None:
                continue
            span[key] = span.get(key, 0.0) + parse_metric(raw)

    @staticmethod
    def _add_skew(span, app_store, conv, job_id) -> None:
        """Per stage that reads a shuffle: the bytes each task read,
        i.e. each non-empty post-AQE partition's size."""
        job = app_store.job(job_id)
        for stage_id in conv.asJava(job.stageIds()):
            attempt = app_store.lastStageAttempt(stage_id).attemptId()
            read = []
            for t in conv.asJava(app_store.taskList(stage_id, attempt,
                                                    100000)):
                tm = t.taskMetrics()
                if tm.isEmpty():
                    continue
                r = tm.get().shuffleReadMetrics()
                n = r.localBytesRead() + r.remoteBytesRead()
                if n > 0:
                    read.append(n)
            if len(read) > 1:
                span.setdefault("_reads", []).append(read)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans},
                      f, indent=1)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span self time: duration minus the union of its children's
    intervals, summed per span name."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s["name"]] = out.get(s["name"], 0.0) + s["s"] - covered
    return out


def uncovered_share(spans: list[dict], start: float, end: float) -> float:
    """Share of [start, end] that no top-level span covers."""
    covered, cur_end = 0.0, start
    for s in sorted((s for s in spans if s["parent"] is None),
                    key=lambda s: s["start"]):
        lo, hi = max(s["start"], cur_end), min(s["end"], end)
        if hi > lo:
            covered += hi - lo
            cur_end = hi
    return 1.0 - covered / (end - start) if end > start else 0.0
