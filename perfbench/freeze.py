#!/usr/bin/env python3
"""Freeze the batch queries' fingerprints after checking them against
the DuckDB oracle.

    python3 perfbench/freeze.py

Runs every query of batch_queries once on
perfbench/data/sf0.01, writes the rows as parquet with the oracle SQL
next to them, compares each query that has an oracle with DuckDB
(scripts/check_oracle.py), and only if all of them pass writes
perfbench/fingerprints.txt (`name rows hash` per line). Re-run it when a
query's result legitimately changes or the data is replaced.
"""
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the benchmark directory free of caches
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
from run import ADD_OPENS  # noqa: E402


def main():
    cp = build.build()
    out = os.path.join(build.build_dir(), "freeze")
    shutil.rmtree(out, ignore_errors=True)
    work = os.path.join(out, "work")
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(build.HERE, "data", "sf0.01")
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main", "--bench-dir", build.HERE,
        "--work-dir", work, "--trace-dir", os.path.join(out, "trace"),
        "--freeze", os.path.join(out, "rows")]
    subprocess.run(cmd, check=True, cwd=build.ROOT)
    rows = os.path.join(out, "rows")
    oracle = subprocess.run(
        [sys.executable, os.path.join(build.ROOT, "scripts", "check_oracle.py"), data, rows],
        stdout=subprocess.PIPE, text=True)
    print(oracle.stdout)
    if oracle.returncode != 0:
        print("oracle check failed; fingerprints not written", file=sys.stderr)
        return 1
    shutil.copy(os.path.join(rows, "fingerprints.txt"), os.path.join(build.HERE, "fingerprints.txt"))
    print("wrote perfbench/fingerprints.txt")
    return 0


if __name__ == "__main__":
    sys.exit(main())
