"""Measurement from outside the engine: spans around calls into its
modules, and Spark's own status stores read through py4j.

Nothing here changes what the engine does. Spans are recorded in memory
and aggregated once at the end of a run; the status stores are read only
between ops, never while one is timed.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

# Python-worker SQL metrics (PythonSQLMetrics) and their per-layer names
PYWORKER_METRICS = {
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_received",
    "time to run Python workers": "pyworker.udf_ms",
}

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


def parse_sql_metric(text: str) -> float:
    """Total of one formatted SQL metric ("6.2 KiB", "total (min, med,
    max ...)\\n1.2 s (...)", "1,024")."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME_MS.get(unit, 1))


def proc_hwm_mb(pid: int | str = "self") -> float:
    """Resident high-water mark (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pid() -> int | None:
    """The driver JVM: the gateway process, or its java descendant."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return None
    todo, seen = [proc.pid], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
            with open(f"/proc/{pid}/task/{pid}/children") as f:
                todo += [int(c) for c in f.read().split()]
        except OSError:
            continue
    return None


class SparkStats:
    """Jobs, stages and SQL executions from the driver's status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.gateway = sc._gateway
        jvm = sc._jvm
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._empty = jvm.java.util.ArrayList()
        self._quantiles = self.gateway.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def all_stages(self) -> list[dict]:
        return self._json(self.store.stageList(
            None, False, False, self.gateway.new_array(self.sc._jvm.double, 0), self._empty))

    def executor_cpu_ns(self) -> int:
        return sum(s["executorCpuTime"] for s in self.all_stages())

    def jobs(self, group: str) -> list[dict]:
        ids = self.sc.statusTracker().getJobIdsForGroup(group)
        return [self._json(self.store.job(j)) for j in sorted(ids)]

    def stage(self, stage_id: int, summaries: bool = False) -> dict:
        attempts = self._json(self.store.stageData(
            stage_id, False, self._empty, summaries,
            self._quantiles if summaries else self.gateway.new_array(self.sc._jvm.double, 0)))
        return attempts[-1]

    def sql_count(self) -> int:
        return self.sql.executionsCount()

    def pyworker(self, since: int) -> dict:
        """Python-worker SQL metrics summed over executions ``since``..now."""
        out = defaultdict(float)
        execs = self.sql.executionsList(since, 1 << 30)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                named = {metrics.apply(k).name(): metrics.apply(k).accumulatorId()
                         for k in range(metrics.size())}
                if "data sent to Python workers" not in named:
                    continue
                for name, acc in named.items():
                    key = PYWORKER_METRICS.get(name, "pyworker.rows" if name == "number of output rows" else None)
                    v = values.get(acc)
                    if key and v.isDefined():
                        out[key] += parse_sql_metric(v.get())
        return dict(out)


class Tracer:
    """One span per layer boundary (name, start, end, parent, op id), kept
    in memory; ``enabled=False`` makes every span a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        self._stack: list[int] = []
        self.op: str | None = None
        self.overhead_s = 0.0
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled or self.op is None:
            yield
            return
        rec = {"op": self.op, "id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "t0": time.time(), "t1": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["t1"] = time.time()
            self._stack.pop()

    def add_span(self, name: str, t0: float, t1: float, parent: int | None) -> None:
        self.spans.append({"op": self.op, "id": len(self.spans), "name": name,
                           "parent": parent, "t0": t0, "t1": t1})

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled and self.op is not None:
            self.counts[self.op][name] += value

    def wrap(self, module, attr: str, span_name: str, calls: str | None = None) -> None:
        """Replace ``module.attr`` with a spanned, counted wrapper."""
        orig = getattr(module, attr)

        def wrapped(*a, **kw):
            if calls:
                self.count(calls)
            with self.span(span_name):
                return orig(*a, **kw)

        setattr(module, attr, wrapped)
        self._patches.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()


def listing(path: str) -> tuple[set, set]:
    """(files, directories) under ``path``, relative to it."""
    files, dirs = set(), set()
    for root, ds, fs in os.walk(path):
        rel = os.path.relpath(root, path)
        dirs.add(rel)
        files.update(os.path.join(rel, f) for f in fs)
    return files, dirs


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: duration minus the part of it that child spans
    cover (children are clipped to the parent and merged first)."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = defaultdict(float)
    for s in spans:
        lo, hi = s["t0"], s["t1"]
        covered, end = 0.0, lo
        for c in sorted(children[s["id"]], key=lambda c: c["t0"]):
            a, b = max(c["t0"], end), min(c["t1"], hi)
            if b > a:
                covered += b - a
                end = b
        out[s["name"]] += max(hi - lo - covered, 0.0) * 1000.0
    return dict(out)


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total * 1000.0
