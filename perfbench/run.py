"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--scale full|smoke] [--print-results]

Builds first when the sources changed (see build.py). The JVM's stdout
is relayed with the result object last; the exit code is the JVM's, 1
when an output check failed. Workloads and metrics: see README.md.
"""
import argparse
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["ingest_json_drain", "ingest_avro_live"]
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full")
    ap.add_argument("--print-results", action="store_true")
    a = ap.parse_args()

    t0 = time.monotonic()
    try:
        built = build.compile_classes()
        build.generate_data(a.scale)
    except build.BuildError as e:
        sys.exit(f"perfbench build: {e}")
    # a run that had to build may use the first run's longer allowance
    timeout = RUN_TIMEOUT_S if not built else RUN_TIMEOUT_S + 600
    timeout -= time.monotonic() - t0

    work = build.OUT / "run" / str(int(time.time() * 1000))
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scale", a.scale, "--data", str(build.DATA),
            "--work", str(work), "--traces", str(build.OUT / "traces"),
            "--expected", str(build.BENCH / "expected.json")]
    if a.print_results:
        args.append("--print-results")
    try:
        r = subprocess.run(build.java_command(work, args), cwd=build.ROOT,
                           env=build.java_env(), stdout=subprocess.PIPE, text=True,
                           timeout=max(30, timeout))
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: {a.workload} did not finish in {timeout:.0f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in r.stdout.splitlines() if l.strip()]
    results = [l for l in lines if is_result(l)]
    for l in lines:
        if l not in results:
            print(l)
    if not results:
        sys.exit(f"perfbench: no result from {a.workload} (exit {r.returncode})")
    print(results[-1], flush=True)
    sys.exit(r.returncode)


def is_result(line):
    try:
        return set(json.loads(line)) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, TypeError):
        return False


if __name__ == "__main__":
    main()
