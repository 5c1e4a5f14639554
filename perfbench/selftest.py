"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

Runs every workload of ``BENCHMARK.json`` untraced and traced with
``--size tiny`` and checks that:

- every end-to-end metric (untraced) and every per-layer metric (traced)
  named in ``BENCHMARK.json`` is printed, with its unit;
- no op failed or was refused, and every output check held;
- per traced op, build + Catalyst phases + job time + driver gap sum to
  within 10% of the op's wall time. The driver gap is the action's
  remainder, so this fails only when tracked phases overlap jobs; the
  largest gap share of an op's wall is printed beside it.

Exits non-zero on the first workload that breaks one of these.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit {out.returncode}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for trace, metrics in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            report, summary = run(w["name"], trace)
            tag = f"{w['name']} trace={trace}"
            for m in metrics:
                got = summary["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or got.get("value") is None:
                    problems.append(f"{tag}: metric {m['name']} missing or without unit {m['unit']}")
            if summary["failed"] or not summary["correct"] or report["metrics"]["error_rate"]["value"]:
                problems.append(f"{tag}: failures {report['failures']}")
            if trace:
                err = report["per_layer"]["layers.max_sum_error_ratio"]["value"]
                if err > 0.10:
                    problems.append(f"{tag}: traced layers sum off an op's wall by {err:.1%}")
                gap = report["per_layer"]["layers.max_gap_share"]["value"]
                tag += f" (largest driver-gap share of an op's wall {gap:.0%})"
            print(f"{tag}: attempted {summary['attempted']}, failed {summary['failed']}", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
