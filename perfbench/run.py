"""The repo benchmark: one command, three workloads, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for why each exists):
  spout_wordcount   closed-loop crane_spout drain, 500-line micro-batches
  batch_mix         closed-loop cycle of 8 registry queries over sf0.1
  event_dedup_open  open-loop JSON events -> dedup within watermark -> parquet

The last stdout line is one JSON object {"correct", "attempted",
"failed", "metrics"}: every end-to-end metric with ``--trace 0``, every
per-layer metric with ``--trace 1`` (a layer the workload does not use
reads 0). The line before it carries the workload's own metric names.
A run whose outputs fail a correctness gate prints correct=false and
exits 1; a run that cannot complete exits non-zero without a result.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.path.insert(1, os.path.dirname(BENCH_DIR))

import harness  # noqa: E402

RUN_LIMIT_S = 170

END_TO_END = (
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("latency_ms", "ms"),
    ("latency_ms_tail", "ms"),
)

PER_LAYER = (
    ("session.get_spark_s", "s"),
    ("session.warmup_s", "s"),
    ("process.peak_rss_mb", "MB"),
    ("spout.read_ms_p50", "ms"),
    ("spout.read_ms_max", "ms"),
    ("spout.latest_offset_ms_p50", "ms"),
    ("files.latest_offset_ms_p50", "ms"),
    ("files.rows_per_batch_p50", "count"),
    ("topology.wordcount_500_ms_p50", "ms"),
    ("topology.pagerank_contrib_s", "s"),
    ("pipelines.batches", "count"),
    ("pipelines.add_batch_ms_p50", "ms"),
    ("pipelines.query_planning_ms_p50", "ms"),
    ("pipelines.wal_commit_ms_p50", "ms"),
    ("pipelines.commit_offsets_ms_p50", "ms"),
    ("pipelines.backlog_events_max", "count"),
    ("state.commit_ms_p50", "ms"),
    ("state.instances", "count"),
    ("state.rows_total", "count"),
    ("state.memory_bytes", "bytes"),
    ("state.rows_updated", "count"),
    ("state.rows_removed", "count"),
    ("state.rows_dropped_by_watermark", "count"),
    ("sink.files_written", "count"),
    ("sink.bytes_written", "bytes"),
    ("sink.commit_gap_ms_p50", "ms"),
    ("queries.build_ms_p50", "ms"),
    ("queries.exec_ms_p50", "ms"),
    ("queries.shuffle_write_bytes", "bytes"),
    ("loadgen.late_ms_p99", "ms"),
    ("loadgen.events_sent", "count"),
    ("baseline.python_lines_per_s", "1/s"),
    ("trace.spans", "count"),
    ("trace.overhead_ms", "ms"),
    ("trace.throughput_per_s", "1/s"),
)

WORKLOADS = {  # workload name -> module in this directory
    "spout_wordcount": "wl_spout",
    "batch_mix": "wl_batch",
    "event_dedup_open": "wl_events",
}


class Context:
    """What a workload reads (session, tracer, progress log, arguments)
    and fills in (metrics, operation counts, gate failures)."""

    def __init__(self, args, tracer: harness.Tracer):
        self.args = args
        self.tracer = tracer
        self.fault = args.inject_fault
        self.deadline = time.time() + RUN_LIMIT_S
        self.spark = None
        self.log = None
        self.setup_started = 0.0
        self.warmup_started = 0.0
        self.e2e: dict[str, float] = {}
        self.detail: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def warmed_up(self, at: float) -> None:
        """End of the warm-up (a ``time.time()``): set-up time runs from
        before ``get_spark`` to here."""
        self.layer["session.warmup_s"] = at - self.warmup_started
        self.e2e["setup_s"] = at - self.setup_started

    def fail(self, operations: int, problem: str) -> None:
        self.failed += operations
        self.problems.append(problem)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--warm-batches", type=int, default=10,
                    help="spout_wordcount: 500-line warm-up micro-batches before timing")
    ap.add_argument("--batches", type=int, default=6,
                    help="spout_wordcount: timed 500-line micro-batches")
    ap.add_argument("--vocab", type=int, default=5000, help="spout_wordcount: vocabulary size")
    ap.add_argument("--skew", type=float, default=1.1, help="spout_wordcount: Zipf exponent")
    ap.add_argument("--sf", type=float, default=0.1, help="batch_mix: star-schema scale factor")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt the observed output before the correctness gate "
                         "(self-test of the gates)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = harness.fresh_dir(os.path.join(harness.WORK_ROOT, f"{args.workload}-{os.getpid()}"))
    harness.prepare_env(work)
    mod = importlib.import_module(WORKLOADS[args.workload])

    tracer = harness.Tracer(bool(args.trace))
    ctx = Context(args, tracer)
    session = harness.Session()
    try:
        ctx.setup_started = time.time()
        with tracer.span(f"{args.workload}.setup"):
            with tracer.span("session.get_spark"):
                session.start()
            with tracer.span("inputs.generate"):
                inputs = mod.make_inputs(args, harness.fresh_dir(os.path.join(work, "inputs")))
        ctx.spark = session.spark
        ctx.log = harness.make_progress_log()
        ctx.spark.streams.addListener(ctx.log)
        ctx.warmup_started = time.time()
        with tracer.span(f"{args.workload}.run"):
            mod.run(ctx, inputs)
        ctx.layer["trace.throughput_per_s"] = ctx.e2e["throughput_per_s"]
        ctx.layer["process.peak_rss_mb"] = harness.peak_rss_mb(session.jvm_pid())
        ctx.layer["session.get_spark_s"] = session.get_spark_s
    finally:
        session.stop()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        ctx.layer["trace.spans"] = len(tracer.spans)
        ctx.layer["trace.overhead_ms"] = tracer.overhead_ms()
        trace_dir = os.path.join(harness.WORK_ROOT, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-{tracer.run_id}.jsonl")
        tracer.write(trace_path)
        print(f"spans written to {trace_path}", file=sys.stderr)
        metrics = {n: {"value": float(ctx.layer.get(n, 0)), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(ctx.e2e[n]), "unit": u} for n, u in END_TO_END}

    for problem in ctx.problems:
        print(f"CORRECTNESS: {problem}", file=sys.stderr)
    correct = ctx.failed == 0
    print(json.dumps({
        "workload": args.workload,
        "detail": {n: {"value": v, "unit": u} for n, (v, u) in ctx.detail.items()},
    }))
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
