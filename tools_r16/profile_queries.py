#!/usr/bin/env python
"""Per-headline-query profiling: wall time (noop sink, min-of-N), number of
Spark jobs, and stage-level breakdown via the status tracker REST API.

Usage: python tools_r16/profile_queries.py [query ...]   (default: all)
Prints one JSON line per query:
  {"name":..., "best_sec":..., "runs":[...], "n_jobs":..., "stages":[
      {"stage":id, "name":..., "tasks":n, "ms":...}, ...]}
"""
from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, RAW_OVERRIDES  # noqa: E402
from qcardia_data_spark import get_spark  # noqa: E402
from qcardia_data_spark.queries import QUERIES  # noqa: E402


def rest(spark, path):
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}{path}") as r:
        return json.loads(r.read())


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    names = sys.argv[1:] or HEADLINE
    spark = get_spark(app_name="qds-profile")
    sc = spark.sparkContext
    # warm up (same as bench.py)
    spark.range(1000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "orders", "customer", "documents", "embeddings", "events"):
        df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        df.write.format("noop").mode("overwrite").save()

    for name in names:
        fn = RAW_OVERRIDES.get(name) or QUERIES[name][0]
        samples = []
        sc.setJobGroup(f"prof-{name}", name)
        jobs_before = {j["jobId"] for j in rest(spark, "/jobs")}
        for i in range(repeats):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        sc.setJobGroup(None, None)
        jobs = [j for j in rest(spark, "/jobs") if j["jobId"] not in jobs_before]
        n_jobs_per_run = len(jobs) / max(repeats, 1)
        # stage breakdown for the LAST run's jobs (jobs are newest-first)
        last_run_jobs = jobs[: int(n_jobs_per_run)] if n_jobs_per_run else []
        stage_ids = sorted({s for j in last_run_jobs for s in j.get("stageIds", [])})
        stages = []
        for sid in stage_ids:
            try:
                sl = rest(spark, f"/stages/{sid}")
                for att in sl:
                    if att.get("status") == "SKIPPED":
                        stages.append({"stage": sid, "skipped": True})
                        continue
                    dur = None
                    if att.get("firstTaskLaunchedTime") and att.get("completionTime"):
                        pass
                    stages.append(
                        {
                            "stage": sid,
                            "tasks": att.get("numCompleteTasks"),
                            "ms": att.get("executorRunTime"),
                            "shuffle_read": att.get("shuffleReadBytes"),
                            "shuffle_write": att.get("shuffleWriteBytes"),
                            "input": att.get("inputBytes"),
                            "name": (att.get("name") or "")[:80],
                        }
                    )
            except Exception:  # noqa: BLE001
                pass
        print(
            json.dumps(
                {
                    "name": name,
                    "best_sec": min(samples),
                    "runs": samples,
                    "jobs_per_run": n_jobs_per_run,
                    "stages_last_run": stages,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
