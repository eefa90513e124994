#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

Runs one iteration (a one-second window) of every workload in
BENCHMARK.json, untraced and traced, and asserts that every metric
BENCHMARK.json names is emitted with its unit, a value and a sample count,
that the run is correct, and that on every workload a deliberately wrong
expected result makes the command exit non-zero.

Usage, from the root of a checkout: python3 perfbench/smoke_test.py
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, trace, env=None):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        capture_output=True, text=True, env=env)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, (json.loads(lines[-1]) if lines else None), p.stderr


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, lines, res, err = run(w["name"], trace)
            tag = f"{w['name']} trace={trace}"
            if rc != 0 or res is None or not res["correct"]:
                failures.append(f"{tag}: rc={rc} result={res} {err[-2000:]}")
                continue
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                shown = [ln for ln in lines if re.match(
                    rf"{re.escape(m['name'])} \S+ {re.escape(m['unit'])} n=[1-9]\d*$", ln)]
                if (got is None or got["unit"] != m["unit"]
                        or not isinstance(got["value"], (int, float)) or not shown):
                    failures.append(f"{tag}: metric {m['name']} missing or malformed: {got}")
            if set(res["metrics"]) != {m["name"] for m in spec[key]}:
                failures.append(f"{tag}: unexpected metric set {sorted(res['metrics'])}")
            print(f"ok {tag}")
    for w in spec["workloads"]:
        w = w["name"]
        rc, _, res, _ = run(w, 0, env=dict(os.environ, PERFBENCH_WRONG_EXPECTED="1"))
        if rc == 0 or res is None or res["correct"] or res["failed"] == 0:
            failures.append(f"{w}: wrong expected result was not caught: rc={rc} result={res}")
        else:
            print(f"ok {w}: a wrong expected result fails the run "
                  f"(rc={rc}, {res['failed']} of {res['attempted']} failed)")
    for f in failures:
        print("FAIL", f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
