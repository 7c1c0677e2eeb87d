"""Self-test of the benchmark at toy size.

    python3 perfbench/selftest.py

For every workload it runs the benchmark twice as a subprocess:

* untraced, with ``--inject-fault`` (a deliberately wrong result fed
  into the workload's correctness gate): the run must be marked failed
  (correct=false, failed>0, exit code 1) and still print every
  end-to-end metric with its unit;
* traced, without a fault: the run must pass its gate and print every
  per-layer metric with its unit, plus the workload's own metric names,
  and write spans that carry name, start, end, parent and one run id.

Finally it copies only BENCHMARK.json and the benchmark directory into
an empty directory and checks that the benchmark refuses to run there.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

from run import END_TO_END, PER_LAYER  # noqa: E402

TOY_ARGS = {
    "spout_wordcount": ["--warm-batches", "1", "--batches", "3", "--vocab", "300"],
    "batch_mix": ["--sf", "0.01"],
    "event_dedup_open": [],
}
WORKLOAD_METRICS = {
    "spout_wordcount": {"lines_per_s": "1/s", "microbatch_ms_p50": "ms", "microbatch_ms_p75": "ms"},
    "batch_mix": {"query_s_p50": "s", "query_s_p75": "s", "queries_per_s": "1/s",
                  "query_s_geomean": "s", "query_s_p75_geomean": "s"},
    "event_dedup_open": {"event_latency_ms_p50": "ms", "event_latency_ms_p99": "ms"},
}
SPAN_KEYS = {"id", "name", "start", "end", "parent", "run_id"}


def run_bench(workload: str, trace: int, fault: bool, cwd: str = REPO_ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), *TOY_ARGS[workload]]
    if fault:
        cmd.append("--inject-fault")
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def check(condition: bool, message: str) -> None:
    if not condition:
        raise SystemExit(f"SELFTEST FAILED: {message}")


def check_metrics(metrics: dict, expected, what: str) -> None:
    want = dict(expected)
    check(set(metrics) == set(want), f"{what}: metric names {sorted(metrics)}")
    for name, unit in want.items():
        check(metrics[name]["unit"] == unit, f"{what}: {name} unit {metrics[name]['unit']}")
        check(isinstance(metrics[name]["value"], (int, float)), f"{what}: {name} value")


def main() -> int:
    for workload in TOY_ARGS:
        proc = run_bench(workload, trace=0, fault=True)
        lines = proc.stdout.strip().splitlines()
        check(bool(lines), f"{workload}: faulted run printed nothing; stderr:\n{proc.stderr[-2000:]}")
        result = json.loads(lines[-1])
        check(proc.returncode == 1, f"{workload}: faulted run exited {proc.returncode}")
        check(result["correct"] is False, f"{workload}: faulted run marked correct")
        check(result["failed"] > 0, f"{workload}: faulted run counted no failed operation")
        check_metrics(result["metrics"], END_TO_END, f"{workload} untraced")
        print(f"{workload}: injected fault caught ({result['failed']} of "
              f"{result['attempted']} operations failed)")

        proc = run_bench(workload, trace=1, fault=False)
        lines = proc.stdout.strip().splitlines()
        check(proc.returncode == 0, f"{workload}: traced run exited {proc.returncode}; "
                                    f"stderr:\n{proc.stderr[-2000:]}")
        result = json.loads(lines[-1])
        check(result["correct"] is True and result["failed"] == 0, f"{workload}: traced run failed")
        check(result["attempted"] >= 1, f"{workload}: nothing attempted")
        check_metrics(result["metrics"], PER_LAYER, f"{workload} traced")
        detail = json.loads(lines[-2])["detail"]
        for name, unit in WORKLOAD_METRICS[workload].items():
            check(detail.get(name, {}).get("unit") == unit, f"{workload}: detail {name}")
        trace_path = proc.stderr.split("spans written to ")[1].split()[0]
        with open(trace_path) as fh:
            spans = [json.loads(line) for line in fh]
        check(bool(spans) and all(SPAN_KEYS <= set(s) for s in spans), f"{workload}: span fields")
        check(len({s["run_id"] for s in spans}) == 1, f"{workload}: spans share no run id")
        print(f"{workload}: traced run correct, {len(spans)} spans")

    bare = os.path.join(REPO_ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(REPO_ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = run_bench("spout_wordcount", trace=0, fault=False, cwd=bare)
        check(proc.returncode != 0, "benchmark ran without the engine sources")
        check('"correct"' not in proc.stdout, "benchmark printed a result without the engine")
        print("bare directory: refused as expected")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("SELFTEST OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
