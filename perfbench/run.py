"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed``
(cached under ``.perfbench/inputs``), each run works in a fresh directory
under ``.perfbench/``, and Spark runs on ``local[<cpus>]`` where ``<cpus>``
is the number of CPUs this process may use.

Standard output ends with two JSON lines: the full report (every metric
by name with unit and sample count, per-op-kind layers, digests, host
state), then the summary ``{"correct", "attempted", "failed", "metrics"}``
holding the end-to-end metrics, or with ``--trace 1`` the per-layer ones
that ``BENCHMARK.json`` lists.
Exits 2 without a summary when the engine is not importable here or the
host cannot honour the CPU pin.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer metrics summed over a traced iteration's ops
LAYER_SUMS = [
    "catalog.load_table_calls", "build.ms", "build.jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.sched_delay_ms", "spark.driver_gap_ms",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
    "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes",
    "pyworker.rows", "pyworker.bytes_sent", "pyworker.bytes_received", "pyworker.udf_ms",
    "index.read_meta_calls", "index.files_added", "index.dirs_touched",
    "io.input_bytes", "io.output_bytes",
]
# per-layer metrics read from the spans around calls into engine modules
LAYER_SPANS = {
    "catalog.load_table_ms": "catalog.load_table",
    "spec.compile_ms": "spec.compile",
    "reformat.build_ms": "reformat.build",
    "cache.materialize_ms": "cache.materialize",
    "cache.route_ms": "cache.route",
    "data_module.split_ms": "data_module.split",
    "index.read_meta_ms": "index.read_meta",
}
SERVE_KINDS = ("first_batch", "serve_batch")


def unit_of(name: str) -> str:
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if "bytes" in name:
        return "B"
    if name.endswith(("_skew", "_ratio", "_share")):
        return "ratio"
    return "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's seconds-long sizes")
    return ap.parse_args(argv)


def refuse(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints); refuses a
    ``SPARK_GRAFT_CPUS`` the host cannot honour."""
    cpus = len(os.sched_getaffinity(0))
    asked = os.environ.get("SPARK_GRAFT_CPUS")
    if asked and int(asked) > cpus:
        refuse(f"SPARK_GRAFT_CPUS={asked} exceeds the {cpus} CPUs available")
    return cpus


def commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def prune_inputs(inputs: str, keep: int = 6) -> None:
    """Keep the ``keep`` most recently used input sets."""
    entries = sorted((e for e in os.scandir(inputs) if e.is_dir()),
                     key=lambda e: e.stat().st_mtime, reverse=True)
    for e in entries[keep:]:
        shutil.rmtree(e.path, ignore_errors=True)


def session_factory(work: str, cpus: int):
    """Build the engine's session on ``local[cpus]`` with every scratch
    path inside ``work``."""
    from qcardia_data_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM, the launcher included, keeps its perf data out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -XX:-UsePerfData".strip()
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    def make():
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        }
        return get_spark(app_name="perfbench", master=f"local[{cpus}]",
                         shuffle_partitions=cpus, extra_conf=conf)

    return make


def stop_spark() -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    active = SparkContext._active_spark_context
    if active is not None:
        active.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def timing(values: list[float], unit: str, scale: float = 1.0) -> dict:
    from harness import median, tail

    if not values:
        return {"value": None, "unit": unit, "n": 0}
    p, v = tail(values)
    out = {"value": median(values) * scale, "unit": unit, "n": len(values)}
    if p is not None:
        out["tail"] = {"percentile": p, "value": v * scale}
    return out


def gmean(values: list[float]) -> float | None:
    return math.exp(sum(map(math.log, values)) / len(values)) if values else None


def write_samples(res) -> list[float]:
    """Per-iteration write latency: the write kinds' samples summed."""
    s = res.bench.samples
    cols = [s.get(k, []) for k in res.write_kinds]
    return [sum(xs) for xs in zip(*cols)]


def end_to_end(res, workload: str, rss_mb: float) -> tuple[dict, dict]:
    """The bounded end-to-end metrics, and every metric ``design.json``
    reports for this workload (with sample counts)."""
    b = res.bench
    s = b.samples
    iters = max(res.iterations + res.traced_iterations, 1)
    reads = [x for k in res.read_kinds for x in s.get(k, [])]
    m = {
        "setup_s": {"value": res.setup_s, "unit": "s", "n": 1},
        "read_gmean_ms": {"value": gmean(reads), "unit": "ms", "n": len(reads)},
        "write_ms": timing(write_samples(res), "ms"),
    }
    named = {"error_rate": {"value": min(len(b.failures), b.attempted) / max(b.attempted, 1),
                            "unit": "ratio", "n": b.attempted},
             "executor_cpu_s": {"value": res.cpu_ns / 1e9 / iters, "unit": "s", "n": iters},
             "peak_rss_mb": {"value": rss_mb, "unit": "MB", "n": 1}}
    if workload == "cine_cache_serve":
        rc = s.get("reformat_cache", [])
        serve = [x for k in SERVE_KINDS for x in s.get(k, [])]
        named.update({
            "cache_subjects_per_s": timing([res.extra["subjects_per_iteration"] * 1000.0 / x
                                            for x in rc], "subjects/s"),
            "dm_setup_s": timing(s.get("dm_setup", []), "s", 1e-3),
            "first_batch_s": timing(s.get("first_batch", []), "s", 1e-3),
            "serve_records_per_s": {
                "value": res.extra.get("served_records", 0) / (sum(serve) / 1000.0) if serve else None,
                "unit": "records/s", "n": len(serve)},
        })
    else:
        for kind in ("query", "probe"):
            t = timing(s.get(kind, []), "ms")
            named[f"{kind}_p50_ms"] = {k: v for k, v in t.items() if k != "tail"}
            named[f"{kind}_tail_ms"] = {"value": t.get("tail", {}).get("value"), "unit": "ms",
                                        "n": t["n"], "percentile": t.get("tail", {}).get("percentile")}
        named["append_p50_ms"] = timing(s.get("append", []), "ms")
    named["setup_s"] = m["setup_s"]
    return m, named


def per_layer(res, untraced_e2e: dict) -> tuple[dict, dict]:
    """Per-layer metrics per traced iteration, plus the per-op-kind table."""
    from harness import median

    b = res.bench
    iters = max(res.traced_iterations, 1)
    recs = [(kind, r) for kind, rs in b.layers.items() for r in rs
            if not kind.startswith("warmup.")]
    out = {name: 0.0 for name in LAYER_SUMS}
    out.update({name: 0.0 for name in LAYER_SPANS})
    out.update({"data_module.batch_fetch_ms": 0.0, "data_module.batch_jobs": 0.0,
                "index.write_ms": 0.0, "exec.stage_skew": 0.0})
    for kind, r in recs:
        for name in LAYER_SUMS:
            out[name] += r.get(name, 0.0)
        for name, span in LAYER_SPANS.items():
            out[name] += r["span_ms"].get(span, 0.0)
        if kind.split(":")[0] in SERVE_KINDS:
            out["data_module.batch_fetch_ms"] += r["wall_ms"]
            out["data_module.batch_jobs"] += r["spark.jobs"]
        if kind.startswith("append"):
            out["index.write_ms"] += r["span_ms"].get("index.write", 0.0) + \
                r["span_ms"].get("writer.parquet", 0.0)
        out["exec.stage_skew"] = max(out["exec.stage_skew"], r["exec.stage_skew"])
    for name in out:
        if name != "exec.stage_skew":
            out[name] /= iters
    out["session.start_ms"] = res.session_start_ms
    out["trace.overhead_ms"] = b.tracer.overhead_s * 1000.0 / iters
    # every traced op, warm-up included: build + Catalyst + action jobs +
    # action gap against the op's wall time. The gap is the action's
    # remainder, so the sum is the wall unless tracked phases overlap jobs;
    # the gap's share of the wall is the driver time no layer explains.
    traced_ops = [r for rs in b.layers.values() for r in rs if r["wall_ms"]]
    out["layers.max_sum_error_ratio"] = max(
        (abs((r["build.ms"] + r["catalyst.analysis_ms"] + r["catalyst.optimization_ms"]
              + r["catalyst.planning_ms"] + r["action.jobs_ms"] + r["action.gap_ms"])
             / r["wall_ms"] - 1.0) for r in traced_ops), default=0.0)
    out["layers.max_gap_share"] = max(
        (r["action.gap_ms"] / r["wall_ms"] for r in traced_ops), default=0.0)
    traced_reads = [x for k in res.read_kinds for x in b.traced_samples.get(k, [])]
    traced_writes = [sum(xs) for xs in zip(*[b.traced_samples.get(k, []) for k in res.write_kinds])]
    deltas = {
        "trace.read_delta_ms": (gmean(traced_reads), untraced_e2e["read_gmean_ms"]["value"]),
        "trace.write_delta_ms": (median(traced_writes) if traced_writes else None,
                                 untraced_e2e["write_ms"]["value"]),
    }
    for name, (traced, base) in deltas.items():
        out[name] = traced - base if traced is not None and base is not None else 0.0

    table: dict = {}
    for kind, rs in b.layers.items():
        row = {"ops": len(rs)}
        for name in ["wall_ms", "build.ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
                     "catalyst.planning_ms", "action.jobs_ms", "action.gap_ms", *LAYER_SUMS,
                     "exec.stage_skew"]:
            row[name] = sum(r.get(name, 0.0) for r in rs) / len(rs)
        spans: dict = {}
        selfs: dict = {}
        for r in rs:
            for k, v in r["span_ms"].items():
                spans[k] = spans.get(k, 0.0) + v / len(rs)
            for k, v in r["self_ms"].items():
                selfs[k] = selfs.get(k, 0.0) + v / len(rs)
        row["span_ms"], row["self_ms"] = spans, selfs
        table[kind] = row
    return {k: {"value": v, "unit": unit_of(k)} for k, v in out.items()}, table


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = host_cpus()
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import qcardia_data_spark  # noqa: F401
    except ImportError as e:
        refuse(f"the engine is not importable from {ROOT}: {e}")
    if not os.path.isfile(os.path.join(ROOT, "tests", "oracle.py")):
        refuse("tests/oracle.py (the DuckDB oracle comparison) is missing")
    from spans import Tracer, jvm_pid, proc_hwm_mb
    from workloads import WORKLOADS, wrap_layers

    if args.workload not in WORKLOADS:
        refuse(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")

    base = os.path.join(ROOT, ".perfbench")
    inputs = os.path.join(base, "inputs")
    work = os.path.join(base, f"run-{os.getpid()}-{int(time.time())}")
    os.makedirs(inputs, exist_ok=True)
    os.makedirs(work)
    load_before = os.getloadavg()
    tracer = Tracer(enabled=bool(args.trace))
    if tracer.enabled:
        wrap_layers(tracer)
    try:
        res = WORKLOADS[args.workload](session_factory(work, cpus), inputs, work, args.seed,
                                       args.seconds, tracer, args.size)
        jpid = jvm_pid()
        rss = proc_hwm_mb() + (proc_hwm_mb(jpid) if jpid else 0.0)
    finally:
        tracer.unwrap_all()
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        prune_inputs(inputs)
    e2e, named = end_to_end(res, args.workload, rss)
    b = res.bench
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "commit": commit(), "cpus": cpus,
        "master": f"local[{cpus}]", "loop": "closed, 1 client, zero think time",
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "iterations": res.iterations, "traced_iterations": res.traced_iterations,
        "metrics": named, "end_to_end": e2e, "samples_ms": dict(b.samples),
        "digests": b.digests, "failures": b.failures,
    }
    metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in e2e.items()}
    if args.trace:
        layers, table = per_layer(res, e2e)
        report["traced_samples_ms"] = dict(b.traced_samples)
        report["layers"] = table
        report["spans"] = len(tracer.spans)
        report["per_layer"] = layers
        # the summary holds the per-layer metrics measured on every
        # workload; module times that one workload never calls stay in
        # the report
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            metrics = {m["name"]: layers[m["name"]] for m in json.load(f)["per_layer"]}
    else:
        report["summary"] = metrics
    print(json.dumps(report, default=str))
    correct = not b.failures and all(m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": b.attempted,
                      "failed": min(len(b.failures), b.attempted), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
