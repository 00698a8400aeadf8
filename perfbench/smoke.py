"""The benchmark's own test: an sf0.001 smoke of every workload.

    python3 perfbench/smoke.py

Runs each workload untraced and traced at the smoke scale for two
seconds and asserts that the run exits 0, that every output check
passes, and that the result line carries exactly the metrics (names and
units) BENCHMARK.json lists: every end-to-end metric untraced, non-zero,
and every per-layer metric traced. Last, it runs the benchmark in a
directory holding only BENCHMARK.json and this directory, where it must
fail without printing a result.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def result_of(stdout):
    lines = [l for l in stdout.splitlines() if l.strip()]
    return json.loads(lines[-1]) if lines else None


def run(cwd, workload, trace):
    return subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "2", "--trace", str(trace), "--scale", "smoke"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run(ROOT, w, trace)
            tag = f"{w} trace={trace}"
            res = result_of(r.stdout)
            if r.returncode != 0 or res is None:
                failures.append(f"{tag}: exit {r.returncode}\n{r.stderr[-3000:]}")
                continue
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                failures.append(f"{tag}: checks failed: {res}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                failures.append(f"{tag}: metrics differ: missing "
                                f"{sorted(set(want) - set(got))}, extra "
                                f"{sorted(set(got) - set(want))}, units "
                                f"{[k for k in want if k in got and got[k] != want[k]]}")
            if trace == 0:
                zero = [k for k, v in res["metrics"].items() if v["value"] == 0]
                if zero:
                    failures.append(f"{tag}: zero end-to-end metrics {zero}")
            print(f"ok {tag}" if not any(f.startswith(tag) for f in failures)
                  else f"FAIL {tag}", flush=True)

    bare = ROOT / ".bench_build" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = run(bare, spec["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    if r.returncode == 0 or any(l.strip() for l in r.stdout.splitlines()):
        failures.append(f"bare directory: exit {r.returncode}, stdout {r.stdout!r}")
    else:
        print("ok bare directory fails without a result", flush=True)

    for f in failures:
        print("FAIL", f, file=sys.stderr)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
