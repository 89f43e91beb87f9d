#!/usr/bin/env python3
"""Benchmark of the graft thermostat controller and query library.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: stream_steady, stream_backlog, batch_queries (see
perfbench/README.md). Builds the library and the benchmark from
source on first use, runs one benchmark JVM, and prints its result as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics; the span trace of a traced run is
written under the build directory (trace/<workload>-seed<N>.json).
Exits non-zero without a result line if the build, the run or the
result's shape fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the benchmark directory free of caches
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("stream_steady", "stream_backlog", "batch_queries")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def declared_units(trace):
    """{name: unit} of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def result(line, trace):
    """The JVM's outcome line with units from BENCHMARK.json attached;
    raises ValueError unless it sets exactly the declared metrics."""
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    if not isinstance(res["correct"], bool) or res["attempted"] < 1 or res["failed"] < 0:
        raise ValueError("bad correct/attempted/failed")
    units = declared_units(trace)
    if set(res["metrics"]) != set(units):
        missing = sorted(set(units) - set(res["metrics"]))
        extra = sorted(set(res["metrics"]) - set(units))
        raise ValueError(f"metrics differ from BENCHMARK.json: missing {missing}, extra {extra}")
    res["metrics"] = {k: {"value": res["metrics"][k], "unit": u} for k, u in units.items()}
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test sizes: 1k sensors, 2 batch queries")
    args = ap.parse_args()

    try:
        cp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    out = build.build_dir()
    work = os.path.join(out, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed, pre-touched heap, so that mem_peak_mb can split the
        # resident set into heap and off-heap without the collector's
        # heap-sizing decisions
        "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main",
        "--bench-dir", build.HERE, "--work-dir", work,
        "--trace-dir", os.path.join(out, "trace"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--tiny", "1" if args.tiny else "0",
    ]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            cwd=build.ROOT, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stdout)
        print(f"perfbench: benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        return 4
    try:
        res = result(lines[-1], args.trace == 1)
    except ValueError as e:
        sys.stderr.write(stdout)
        print(f"perfbench: malformed result: {e}", file=sys.stderr)
        return 5
    print("\n".join(lines[:-1] + [json.dumps(res)]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
