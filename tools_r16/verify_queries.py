#!/usr/bin/env python
"""Oracle-verify a subset of declared queries (vanilla session, like the
driver). Usage: python tools_r16/verify_queries.py q1_pricing_summary w1_...
Env: QDS_SIM_SF (default /root/testdata/sf0.01). Exits nonzero on failure.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

spark = (
    SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e  # noqa: E402
from tests.oracle import compare  # noqa: E402

qs, os_ = e.queries(), e.oracle_sql()
sf = os.environ.get("QDS_SIM_SF", "/root/testdata/sf0.01")
names = sys.argv[1:]
if not names:
    print("usage: verify_queries.py <query> [...]")
    sys.exit(2)
bad = []
for name in names:
    t0 = time.time()
    try:
        d = qs[name](spark, sf)
        if name in os_:
            issues = compare(d, os_[name], sf, name)
            status = "FAIL " + str(issues[:1]) if issues else "ok"
            if issues:
                bad.append(name)
        else:
            status = f"rows-only {d.count()}"
    except Exception as ex:  # noqa: BLE001
        status = "ERROR " + str(ex)[:200]
        bad.append(name)
    print(f"{name}: {status} ({time.time()-t0:.1f}s)", flush=True)
print("failures:", bad)
spark.stop()
sys.exit(1 if bad else 0)
