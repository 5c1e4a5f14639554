"""Timed ops, output checks and the per-op layer split.

A workload calls :meth:`Bench.op` once per operation a caller would wait
for. The op's wall time is its sample; with tracing on, the op is also
split into layers: the build (Python, catalog and metadata calls, and any
jobs they run), the Catalyst phases of its final action, the jobs of that
action, and the driver gap that remains.
"""

from __future__ import annotations

import time
import traceback
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spans import SparkStats, Tracer, self_times, union_ms

#: percentiles the tail is chosen from, highest first
TAIL_CANDIDATES = (99.9, 99, 95, 90, 75, 50)


ROW_HASH = "_perfbench_h"


def _row_hash(df: DataFrame):
    return F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])


def digest_frame(df: DataFrame) -> DataFrame:
    """Row count plus an order-insensitive content digest: one action that
    executes every column."""
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_row_hash(df).cast("decimal(20,0)")).alias("h"),
    )


def fetch_frame(df: DataFrame):
    """``df``'s rows as an Arrow table plus the (rows, digest) that
    :func:`digest_frame` gives, from one execution. Returns the executed
    DataFrame too (its Catalyst phases)."""
    ex = df.withColumn(ROW_HASH, _row_hash(df))
    table = ex.toArrow()
    hashes = table.column(ROW_HASH).to_pylist()
    # Spark's sum of no rows is NULL
    digest = (len(hashes), str(sum(hashes)) if hashes else "None")
    return (digest, table.drop_columns([ROW_HASH])), ex


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(int(-(-p * len(s) // 100)), 1)
    return s[min(k, len(s)) - 1]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest of ``TAIL_CANDIDATES`` with at
    least ten samples beyond it; (None, None) below 20 samples."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n - max(int(-(-p * n // 100)), 1) >= 10:
            return p, percentile(values, p)
    return None, None


class OpFailed(Exception):
    """An op's output failed its check."""


class Bench:
    """Runs and records timed ops for one workload run."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.stats = SparkStats(spark)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.traced_samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failures: list[str] = []
        self.digests: dict[str, str] = {}
        self.layers: dict[str, list[dict]] = defaultdict(list)
        self._n = 0

    def op(self, kind: str, build, action="digest", check=None, traced=False, name=None):
        """Time one op. ``build()`` returns what ``action`` consumes:
        ``"digest"`` collects :func:`digest_frame` of a DataFrame,
        ``"fetch"`` returns :func:`fetch_frame`'s (digest, Arrow table), a
        callable is applied to the build's result, None keeps the build's
        result. ``check(result)`` raises :class:`OpFailed` on wrong
        output. A raise or a failed check counts as a failure and the run
        goes on; returns the result, or None on failure."""
        self._n += 1
        group = f"pb-op{self._n}"
        tracer = self.tracer
        trace_now = traced and tracer.enabled
        if trace_now:
            tracer.op = group
            sql0 = self.stats.sql_count()
        self.sc.setJobGroup(group, f"{kind} {name or ''}".strip(), False)
        self.attempted += 1
        phases = None
        result = None
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                with tracer.span("build"):
                    built = build()
                a0 = time.time()
                with tracer.span("action"):
                    if action == "digest":
                        dg = digest_frame(built)
                        row = dg.collect()[0]
                        result = (int(row["n"]), str(row["h"]))
                        if trace_now:
                            phases = self._phases(dg)
                    elif action == "fetch":
                        result, ex = fetch_frame(built)
                        if trace_now:
                            phases = self._phases(ex)
                    elif callable(action):
                        result = action(built)
                    else:
                        result = built
                a1 = time.time()
            wall = (time.perf_counter() - t0) * 1000.0
            if check is not None:
                check(result)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, the run continues
            self.failures.append(f"{kind} {name or ''}: {type(e).__name__}: {str(e).splitlines()[0][:300]}")
            traceback.print_exc()
            result = None
        else:
            (self.traced_samples if trace_now else self.samples)[kind].append(wall)
            if trace_now:
                self._split(f"{kind}:{name}" if name else kind, group, wall, w0, a0, a1,
                            phases, sql0)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            tracer.op = None
        return result

    def fail(self, what: str, msg: str) -> None:
        """Count a failed output check made outside an op."""
        self.failures.append(f"{what}: {msg}")

    def check_digest(self, df: DataFrame) -> tuple[int, str]:
        """Untimed (rows, digest) of ``df``, for output checks."""
        row = digest_frame(df).collect()[0]
        return int(row["n"]), str(row["h"])

    def _phases(self, dg: DataFrame) -> dict[str, tuple[float, float]]:
        out = {}
        it = dg._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            ps = kv._2()
            out[kv._1()] = (ps.startTimeMs() / 1000.0, ps.endTimeMs() / 1000.0)
        return out

    def _split(self, kind, group, wall, w0, a0, a1, phases, sql0):
        """Record the op's layer split from its spans and Spark's stores."""
        b0 = time.perf_counter()
        tracer, stats = self.tracer, self.stats
        op_spans = [s for s in tracer.spans if s["op"] == group]
        root = op_spans[0]
        jobs = stats.jobs(group)
        job_iv = []
        for j in jobs:
            s0 = j["submissionTime"] / 1000.0
            s1 = (j.get("completionTime") or j["submissionTime"]) / 1000.0
            job_iv.append((s0, s1))
            # a job is a child of the deepest span open when it was submitted
            parent = max((s for s in op_spans if s["t0"] <= s0 < s["t1"]),
                         key=lambda s: s["t0"], default=root)
            tracer.add_span("spark.job", s0, s1, parent["id"])
        for ph, (p0, p1) in (phases or {}).items():
            tracer.add_span(f"catalyst.{ph}", p0, p1,
                            next(s["id"] for s in op_spans if s["name"] == "action"))
        w1 = root["t1"]
        catalyst = {ph: (p1 - p0) * 1000.0 for ph, (p0, p1) in (phases or {}).items()}
        build_ms = (a0 - root["t0"]) * 1000.0
        action_jobs = union_ms(job_iv, a0, a1)
        action_gap = max((a1 - a0) * 1000.0 - action_jobs - sum(catalyst.values()), 0.0)
        stage_ids = sorted({sid for j in jobs for sid in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            try:
                stages.append(stats.stage(sid))
            except Exception:  # noqa: BLE001 — skipped stages have no data
                continue
        ran = [s for s in stages if s.get("numCompleteTasks", 0) > 0]
        longest = max(ran, key=lambda s: s["executorRunTime"], default=None)
        skew = 1.0
        if longest is not None:
            d = stats.stage(longest["stageId"], summaries=True).get("taskMetricsDistributions") or {}
            q = d.get("executorRunTime") or [0, 0]
            skew = q[1] / q[0] if q[0] else 1.0
        rec = {
            "wall_ms": wall,
            "build.ms": build_ms,
            "build.jobs": sum(1 for (s0, _) in job_iv if s0 < a0),
            "catalyst.analysis_ms": catalyst.get("analysis", 0.0),
            "catalyst.optimization_ms": catalyst.get("optimization", 0.0),
            "catalyst.planning_ms": catalyst.get("planning", 0.0),
            "action.jobs_ms": action_jobs,
            "action.gap_ms": action_gap,
            "spark.jobs": len(jobs),
            "spark.stages": len(ran),
            "spark.tasks": sum(s["numCompleteTasks"] for s in ran),
            "spark.sched_delay_ms": sum(
                max(s["firstTaskLaunchedTime"] - s["submissionTime"], 0)
                for s in ran if s.get("firstTaskLaunchedTime") and s.get("submissionTime")),
            "spark.driver_gap_ms": (w1 - w0) * 1000.0 - union_ms(job_iv, w0, w1),
            "exec.run_ms": sum(s["executorRunTime"] for s in ran),
            "exec.cpu_ms": sum(s["executorCpuTime"] for s in ran) / 1e6,
            "exec.gc_ms": sum(s["jvmGcTime"] for s in ran),
            "exec.stage_skew": skew,
            "shuffle.read_bytes": sum(s["shuffleReadBytes"] for s in ran),
            "shuffle.write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
            "spill.bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran),
            "io.input_bytes": sum(s["inputBytes"] for s in ran),
            "io.output_bytes": sum(s["outputBytes"] for s in ran),
        }
        rec.update(stats.pyworker(sql0))
        rec.update(tracer.counts.pop(group, {}))
        spans = [s for s in tracer.spans if s["op"] == group]
        rec["span_ms"] = {}
        for s in spans:
            if s["name"] not in ("op", "build", "action", "spark.job") and not s["name"].startswith("catalyst."):
                rec["span_ms"][s["name"]] = rec["span_ms"].get(s["name"], 0.0) + (s["t1"] - s["t0"]) * 1000.0
        rec["self_ms"] = self_times(spans)
        self.layers[kind].append(rec)
        tracer.overhead_s += time.perf_counter() - b0
