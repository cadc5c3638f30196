"""Benchmark command: builds the engine, runs one workload in a fresh JVM
and prints its metrics.

    python3 perfbench/run.py --workload label_synth --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The second-to-last line of standard
output is the full report (every metric by name and unit, the inputs and
the correctness checks); the last line is the result object
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
"""

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import analysis  # noqa: E402
import build  # noqa: E402

ROOT = build.ROOT
DEADLINE_S = 175.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=analysis.WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def run_jvm(args, work, budget_s):
    out = work / "record.json"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    log = work / "jvm.log"
    cmd = build.java_command(
        ["--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--work", str(work), "--docs", str(build.DOCS), "--out", str(out)],
        tmp, f"-XX:SharedArchiveFile={build.ARCHIVE}")
    t0 = time.monotonic()
    code = build.run_logged(cmd, log, budget_s)
    if code != 0 or not out.exists():
        build.fail(f"{args.workload} JVM " + ("timed out" if code is None else f"exited with {code}"),
                   log)
    record = json.loads(out.read_text())
    record["jvm_s"] = time.monotonic() - t0
    return record


def main(argv):
    args = parse_args(argv)
    build.build()
    t0 = time.monotonic()  # a first run's compile has its own allowance
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        record = run_jvm(args, work, DEADLINE_S - (time.monotonic() - t0))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    full, result = analysis.report(record)
    print(json.dumps(full, sort_keys=True))
    print(json.dumps(result))


if __name__ == "__main__":
    main(sys.argv[1:])
