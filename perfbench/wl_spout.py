"""spout_wordcount: closed-loop drain of a seeded Zipf text file through
the crane_spout source in 500-line micro-batches, wordcount, and a
checkpointed stateful aggregation into the memory sink.

The first ``--warm-batches`` micro-batches of the same query are the
warm-up: the first batch of a query pays code generation, Python
worker start and state-store creation, and the per-batch time keeps
falling for about ten batches after it while the JVM warms up.
Timing starts when they are committed and ends when the last line is
counted.
"""

from __future__ import annotations

import os
import time
from collections import Counter

from datagen import zipf_text
from harness import data_batches, pct, pipeline_metrics, stop_when_idle

from crane_spark.operators.topology import wordcount
from crane_spark.sources.spout import DEFAULT_BATCH_SIZE, SpoutStreamReader


def make_inputs(args, out_dir: str) -> dict:
    path = os.path.join(out_dir, "spout.txt")
    lines = (args.warm_batches + args.batches) * DEFAULT_BATCH_SIZE
    text = zipf_text(path, lines, args.seed, args.vocab, args.skew)
    return {"path": path, "lines": text, "dir": out_dir}


def run(ctx, inputs) -> None:
    spark, tracer, log = ctx.spark, ctx.tracer, ctx.log
    path, lines = inputs["path"], inputs["lines"]
    n_lines = len(lines)
    warm_batches = ctx.args.warm_batches
    warm_lines = warm_batches * DEFAULT_BATCH_SIZE

    with tracer.span("spout_wordcount.start_query"):
        stream = (
            spark.readStream.format("crane_spout")
            .option("path", path)
            .option("batch_size", DEFAULT_BATCH_SIZE)
            .load()
        )
        query = (
            wordcount(stream)
            .writeStream.format("memory")
            .queryName("perfbench_spout_wc")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(inputs["dir"], "checkpoint"))
            .trigger(processingTime="0 seconds")
            .start()
        )
    with tracer.span("spout_wordcount.warmup_batches"):
        warm_done = log.wait_rows(query, warm_lines, ctx.deadline)
    ctx.warmed_up(warm_done)
    with tracer.span("spout_wordcount.drain"):
        drained = log.wait_rows(query, n_lines, ctx.deadline)
    with tracer.span("spout_wordcount.stop_query"):
        stop_when_idle(query, ctx.deadline)

    updates = log.of(query.id)
    batches = data_batches(updates)
    measured = [(t, p) for t, p in batches if p.batchId >= warm_batches]
    trigger_ms = [p.durationMs["triggerExecution"] for _, p in measured]
    measured_lines = n_lines - warm_lines
    ctx.detail.update({
        "lines_per_s": (measured_lines / (drained - warm_done), "1/s"),
        "microbatch_ms_p50": (pct(trigger_ms, 50), "ms"),
        "microbatch_ms_p75": (pct(trigger_ms, 75), "ms"),
        "microbatches": (len(measured), "count"),
    })
    ctx.e2e["throughput_per_s"] = measured_lines / (drained - warm_done)
    ctx.e2e["latency_ms"] = pct(trigger_ms, 50)
    ctx.e2e["latency_ms_tail"] = pct(trigger_ms, 75)
    ctx.attempted += len(batches)

    with tracer.span("spout_wordcount.check"):
        got = {r["token"]: r["cnt"] for r in spark.table("perfbench_spout_wc").collect()}
        if ctx.fault:
            token = next(iter(got))
            got[token] += 1
        want = Counter(tok for line in lines for tok in line.split(" "))
        bad = {t for t in set(got) | set(want) if got.get(t) != want.get(t)}
        if bad:
            ctx.fail(len(batches), f"spout_wordcount: {len(bad)} token counts differ from Counter")

    ctx.layer.update(pipeline_metrics(measured))
    ctx.layer["spout.latest_offset_ms_p50"] = pct(
        [p.durationMs.get("latestOffset", 0) for _, p in measured], 50
    )
    if tracer.enabled:
        with tracer.span("spout_wordcount.probes"):
            probes(spark, path, lines, ctx)


def probes(spark, path: str, lines: list[str], ctx) -> None:
    """Traced-run-only measurements of single layers."""
    tracer = ctx.tracer
    with tracer.span("sources.spout.read_all"):
        reader = SpoutStreamReader({"path": path, "batch_size": str(DEFAULT_BATCH_SIZE)})
        offset = reader.initialOffset()
        read_ms = []
        while offset["line"] < len(lines):
            start = time.perf_counter()
            rows, offset = reader.read(offset)
            list(rows)
            read_ms.append((time.perf_counter() - start) * 1000)
    ctx.layer["spout.read_ms_p50"] = pct(read_ms, 50)
    ctx.layer["spout.read_ms_max"] = max(read_ms)

    with tracer.span("operators.topology.wordcount_500"):
        slice_df = spark.createDataFrame(
            [(line,) for line in lines[:DEFAULT_BATCH_SIZE]], "value STRING"
        ).cache()
        slice_df.count()
        wc_ms = []
        for _ in range(8):
            start = time.perf_counter()
            wordcount(slice_df).write.mode("overwrite").format("noop").save()
            wc_ms.append((time.perf_counter() - start) * 1000)
        slice_df.unpersist()
    ctx.layer["topology.wordcount_500_ms_p50"] = pct(wc_ms[1:], 50)

    with tracer.span("baseline.python_wordcount"):
        rates = []
        for _ in range(3):
            start = time.perf_counter()
            Counter(tok for line in lines for tok in line.split(" "))
            rates.append(len(lines) / (time.perf_counter() - start))
    ctx.layer["baseline.python_lines_per_s"] = pct(rates, 50)
