"""Traced mode: in-memory spans plus Spark counters per operation.

A span is ``(name, start, end, parent, op)`` in epoch seconds. Spans are
recorded from the benchmark's own code around each call into a layer
(session start, warm-up, ``spec.fn``, the action, ``load_table``, each
job's start, polls and result). Spark counters come from the driver's
status stores after each operation:

- the application status store (jobs, stages, executor run/CPU/GC time,
  input, shuffle and spill bytes),
- the SQL status store (executions and the Python-worker SQL metrics),
- the executed DataFrame's ``queryExecution().tracker()`` (Catalyst
  phase times),
- ``CodegenMetrics`` (Janino compile count and time).

Counter reads happen between operations, never inside a timed one;
their cost is reported as ``trace.collect_s``.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# Histogram reservoir size of Dropwizard's default (exponentially
# decaying) reservoir: below this many compiles the snapshot holds every
# compile time, so the sum is exact.
_RESERVOIR = 1028

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")

_PY_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def parse_sql_metric(text: str) -> float:
    """The total of one SQL-metric display string, in seconds or bytes
    (``'total (min, med, max ...)\\n1.2 s (...)'`` or ``'8 ms'``)."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Records spans; with a session attached, also Spark counters."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self.collect_s = 0.0

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, op: str | None = None):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            idx = len(self.spans)
            self.spans.append({"name": name, "start": time.time(), "end": None,
                               "parent": parent, "op": op})
            self._stack.append(idx)
        try:
            yield
        finally:
            with self._lock:
                self.spans[idx]["end"] = time.time()
                self._stack.pop()

    def with_self_times(self) -> list[dict]:
        """The spans, each with ``self_s``: its duration minus the part
        of it that its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        return [dict(s, self_s=(s["end"] - s["start"])
                     - union_length(kids[i], s["start"], s["end"]))
                for i, s in enumerate(self.spans)]

    def children_of(self, idx: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == idx]

    def last(self, name: str, op: str) -> int:
        for i in range(len(self.spans) - 1, -1, -1):
            s = self.spans[i]
            if s["name"] == name and s["op"] == op:
                return i
        raise KeyError((name, op))

    # -- Spark counters --------------------------------------------------
    def attach(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._mapper = mapper
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._last_job = max(self._all_job_ids(), default=-1)
        self._last_exec = self._sql.executionsCount()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _all_job_ids(self) -> list[int]:
        return [j["jobId"] for j in self._json(self._store.jobsList(None))]

    def _drain(self) -> None:
        # Status stores are fed asynchronously by the listener bus.
        self._sc.listenerBus().waitUntilEmpty()

    def codegen(self) -> tuple[int, float]:
        """(compile count, total compile ms) so far in this JVM."""
        h = self._codegen
        n = h.getCount()
        snap = h.getSnapshot()
        total = float(sum(snap.getValues())) if n < _RESERVOIR else snap.getMean() * n
        return n, total

    def collect(self, *executed) -> dict:
        """Counters of every job and SQL execution since the last call,
        plus the Catalyst phase times of the ``executed`` DataFrames."""
        t0 = time.perf_counter()
        self._drain()
        out: dict[str, float] = defaultdict(float)
        jobs = [j for j in self._json(self._store.jobsList(None))
                if j["jobId"] > self._last_job]
        if jobs:
            self._last_job = max(j["jobId"] for j in jobs)
        out["executor.jobs"] = len(jobs)
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        for sid in stage_ids:
            for st in self._json(self._store.stageData(
                sid, False, self._no_tasks, False, self._no_quantiles
            )):
                if st["status"] != "COMPLETE":
                    continue
                out["executor.stages"] += 1
                out["executor.tasks"] += st["numCompleteTasks"]
                out["executor.run_s"] += st["executorRunTime"] / 1e3
                out["executor.cpu_s"] += st["executorCpuTime"] / 1e9
                out["executor.gc_s"] += st["jvmGcTime"] / 1e3
                out["sources.input_bytes"] += st["inputBytes"]
                out["sources.input_rows"] += st["inputRecords"]
                out["shuffle.write_bytes"] += st["shuffleWriteBytes"]
                out["shuffle.read_bytes"] += st["shuffleReadBytes"]
                out["shuffle.records"] += st["shuffleWriteRecords"]
                out["shuffle.fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1e3
                out["shuffle.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        out["_job_intervals"] = [
            (j["submissionTime"], j.get("completionTime"))
            for j in jobs if j.get("submissionTime")
        ]
        out["_exec_times"] = []
        n_exec = self._sql.executionsCount()
        if n_exec > self._last_exec:
            execs = self._sql.executionsList(self._last_exec, n_exec - self._last_exec)
            it = execs.iterator()
            while it.hasNext():
                e = it.next()
                out["_exec_times"].append(e.submissionTime() / 1e3)
                names = {m["accumulatorId"]: m["name"] for m in self._json(e.metrics())
                         if m["name"] in _PY_METRICS}
                if not names:
                    continue
                values = self._json(self._sql.executionMetrics(e.executionId()))
                for acc, name in names.items():
                    if str(acc) in values:
                        out[_PY_METRICS[name]] += parse_sql_metric(values[str(acc)])
            self._last_exec = n_exec
        for df in executed:
            phases = df._jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                if phases.contains(phase):
                    out[f"catalyst.{phase}_ms"] += phases.apply(phase).durationMs()
        self.collect_s += time.perf_counter() - t0
        return out


def job_intervals(raw, default_end: float) -> list[tuple[float, float]]:
    """Spark job (submission, completion) pairs, epoch milliseconds as
    the status store serialises them, as epoch seconds; a job still
    running ends at ``default_end``."""
    return [(a / 1e3, b / 1e3 if b is not None else default_end) for a, b in raw]
