#!/usr/bin/env python3
"""The benchmark's own test: every workload at toy size, untraced and traced.

    python3 perfbench/smoke_test.py

Runs run.py --smoke (10k generated rows, the sf0.001 catalog fixture) for
all three workloads with --trace 0 and --trace 1, then asserts that every
output check passed and that each result line carries exactly the metrics
BENCHMARK.json names, each a number with its unit. Exits 0 when all hold.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    problems = []
    for trace in (0, 1):
        wanted = spec["per_layer"] if trace else spec["end_to_end"]
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all", "--seed", "7",
             "--seconds", "1", "--trace", str(trace), "--smoke"],
            stdout=subprocess.PIPE, text=True)
        lines = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
        if out.returncode != 0 or len(lines) != len(workloads):
            problems.append(f"trace {trace}: exit {out.returncode}, {len(lines)} result lines")
            continue
        for name, r in zip(workloads, lines):
            tag = f"{name} trace {trace}"
            if sorted(r) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: keys {sorted(r)}")
            if not (r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1):
                problems.append(f"{tag}: correct={r['correct']} failed={r['failed']}")
            expect = {m["name"]: m["unit"] for m in wanted}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != expect:
                problems.append(f"{tag}: metric names or units differ from BENCHMARK.json")
            bad = [k for k, v in r["metrics"].items()
                   if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
            if bad:
                problems.append(f"{tag}: non-numeric values for {bad}")
            if not trace:
                zero = [m["name"] for m in wanted if r["metrics"][m["name"]]["value"] == 0]
                if zero:
                    problems.append(f"{tag}: end-to-end metrics read 0: {zero}")
    for p in problems:
        print("FAIL", p)
    print("smoke: ok" if not problems else f"smoke: {len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
