#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (1k sensors, 2 batch queries).

    python3 perfbench/selftest.py

Runs every workload untraced and traced through run.py and asserts that
each run exits 0 (run.py refuses a result that does not set exactly the
metrics BENCHMARK.json declares), passes every output check with no
failed op, prints only positive end-to-end metrics, and that the traced
Loop layer reads rounds only on batch_queries. Takes about three minutes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace}: exit code {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            r = run(w, trace)
            got = r["metrics"]
            if not r["correct"] or r["failed"] != 0:
                problems.append(f"{w} trace={trace}: correct={r['correct']} failed={r['failed']}")
            if trace == 0:
                zero = [k for k, m in got.items() if m["value"] <= 0]
                if zero:
                    problems.append(f"{w}: end-to-end metrics not positive: {zero}")
            else:
                rounds = got["loop.rounds"]["value"]
                if (rounds > 0) != (w == "batch_queries"):
                    problems.append(f"{w}: loop.rounds = {rounds}")
            print(f"ok {w} trace={trace}: attempted {r['attempted']}", flush=True)
    for p in problems:
        print("FAIL", p)
    print("self-test", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
