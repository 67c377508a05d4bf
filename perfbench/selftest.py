#!/usr/bin/env python3
"""Self-test of the benchmark on the small fixture copy (fixtures_tiny).

    python3 perfbench/selftest.py

For every workload, runs one untraced and one traced benchmark run and
checks that
  - every metric BENCHMARK.json names prints in the last line with its
    unit, and the human table before it names each metric with a unit;
  - the run is correct, which in a traced run includes the harness's own
    invariants: build + plan + exec is within 10 % of each query's wall
    time, and the per-phase job counts add up to every job the listener
    saw.
Exits non-zero on the first workload that fails.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    failures = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", wl,
                 "--seed", "7", "--seconds", "3", "--trace", str(trace),
                 "--fixtures", os.path.join(BENCH, "fixtures_tiny")],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            where = f"{wl} --trace {trace}"
            if p.returncode != 0 or not lines:
                failures.append(f"{where}: exit {p.returncode}\n{p.stdout[-2000:]}{p.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            table = {ln.split()[0]: ln.split()[-1] for ln in lines[1:-1]
                     if ln.startswith("  ")}
            for m in spec[key]:
                got = result["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    failures.append(f"{where}: metric {m['name']} missing or not in {m['unit']}")
                if table.get(m["name"]) != m["unit"]:
                    failures.append(f"{where}: table lacks {m['name']} [{m['unit']}]")
            if not result["correct"] or result["failed"]:
                failures.append(f"{where}: not correct: {lines[-1]}")
            print(f"{where}: {result['attempted']} attempted, {result['failed']} failed")
    for f in failures:
        print("FAIL", f)
    print("selftest:", "FAILED" if failures else "passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
