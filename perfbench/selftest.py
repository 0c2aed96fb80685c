#!/usr/bin/env python3
"""Toy-scale self-test of the benchmark.

    python3 perfbench/selftest.py

For each workload it runs perfbench/run.py at --scale toy, untraced and
traced, and checks that every metric BENCHMARK.json names is printed with
its unit and that the outputs were judged correct. Then it runs each
workload once more with --corrupt 1, which makes one expected value wrong,
and checks that the output check trips (correct is false, failed > 0).
Exits 0 when everything holds.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, trace, corrupt="0"):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", trace, "--scale", "toy", "--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited with {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            res = run(w, trace)
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w} trace={trace}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: outputs judged wrong: {res}")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None:
                    problems.append(f"{w} trace={trace}: {m['name']} missing")
                elif got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{w} trace={trace}: {m['name']} printed as {got}")
            extra = set(res["metrics"]) - {m["name"] for m in spec[key]}
            if extra:
                problems.append(f"{w} trace={trace}: undeclared metrics {sorted(extra)}")
        bad = run(w, "0", corrupt="1")
        if bad["correct"] or bad["failed"] < 1:
            problems.append(f"{w}: a corrupted expected value did not trip the output check: {bad}")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
