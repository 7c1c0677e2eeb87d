"""event_dedup_open: open-loop JSON event files at a fixed rate through
the file source, dropDuplicatesWithinWatermark, and the parquet sink.

A generator thread writes one file per tick on a fixed schedule that
never waits for the engine; each file is written in a staging
directory and renamed into the watched one. An event's latency is the
commit time of the sink batch that emitted it (the mtime of
``out/_spark_metadata/<batch>``, read from outside the engine) minus
the time the event was due to be created.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter
from datetime import datetime
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
from datagen import EventSchedule
from harness import data_batches, pct, pipeline_metrics, stop_when_idle
from pyspark.sql import types as T

from crane_spark.sources.files import read_json
from crane_spark.streaming.pipelines import stream_dedup_within_watermark, stream_to_parquet

RATE_PER_S = 200
TICK_S = 0.1
# A replay arrives at most 1 s after its original and an out-of-order
# event time lags its creation by at most OOO_MAX_S, so no event is ever
# older than 2 s on arrival and none is dropped as late. The state of a
# key is evicted once the newest event time is two delays (6 s) past it,
# which a run of more than 6 s reaches.
WATERMARK = "3 seconds"
OOO_MAX_S = 1.0
WARM_TICKS = 2

SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("created_us", T.LongType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("kind", T.StringType()),
])


def make_inputs(args, out_dir: str) -> dict:
    per_tick = int(RATE_PER_S * TICK_S)
    warm = EventSchedule(args.seed + 1, WARM_TICKS, per_tick, TICK_S, first_id=0,
                         dup_share=0.0, ooo_share=0.0)
    timed = EventSchedule(args.seed, int(args.seconds / TICK_S), per_tick, TICK_S,
                          first_id=10**9, ooo_max_s=OOO_MAX_S)
    dirs = {k: os.path.join(out_dir, k) for k in ("in", "staging", "out", "checkpoint")}
    for k in ("in", "staging"):
        os.makedirs(dirs[k])
    return {"warm": warm, "timed": timed, **dirs}


class LoadGen(threading.Thread):
    """Writes each tick's file when it is due, whether or not the engine
    has kept up; records how late each write landed."""

    def __init__(self, sched: EventSchedule, start_s: float, in_dir: str, staging: str,
                 prefix: str):
        super().__init__(name=f"loadgen-{prefix}", daemon=True)
        self.sched, self.start_s = sched, start_s
        self.in_dir, self.staging, self.prefix = in_dir, staging, prefix
        self.bodies = [sched.render(i, start_s) for i in range(len(sched.ticks))]
        self.sent: list[tuple[float, int]] = []  # (time renamed in, lines)
        self.late_ms: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, body in enumerate(self.bodies):
                due = self.start_s + i * self.sched.tick_s
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                name = f"{self.prefix}-{i:06d}.json"
                staged = os.path.join(self.staging, name)
                with open(staged, "w") as fh:
                    fh.write(body)
                os.rename(staged, os.path.join(self.in_dir, name))
                now = time.time()
                self.sent.append((now, len(self.sched.ticks[i])))
                self.late_ms.append(max(0.0, now - due) * 1000)
        except BaseException as exc:  # reported by the main thread after join
            self.error = exc


def _iso_to_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def read_sink(out_dir: str):
    """Per committed sink batch: (batch id, commit mtime, new data files),
    from the file sink's metadata log."""
    meta = os.path.join(out_dir, "_spark_metadata")
    logs = sorted(
        (int(name.split(".")[0]), name)
        for name in os.listdir(meta)
        if name[0].isdigit() and not name.endswith(".tmp")
    )
    seen: set[str] = set()
    batches = []
    for batch_id, name in logs:
        path = os.path.join(meta, name)
        with open(path) as fh:
            entries = [json.loads(line) for line in fh.read().splitlines()[1:] if line]
        new = []
        for e in entries:
            if e["action"] == "add" and e["path"] not in seen:
                seen.add(e["path"])
                new.append((unquote(urlparse(e["path"]).path), e["size"]))
        batches.append((batch_id, os.stat(path).st_mtime, new))
    return batches


def run(ctx, inputs) -> None:
    spark, tracer, log = ctx.spark, ctx.tracer, ctx.log
    warm, timed = inputs["warm"], inputs["timed"]

    with tracer.span("event_dedup_open.start_query"):
        events = read_json(spark, inputs["in"], SCHEMA, streaming=True)
        deduped = stream_dedup_within_watermark(events, ["event_id"], WATERMARK, "ts")
        query = stream_to_parquet(deduped, inputs["out"], inputs["checkpoint"],
                                  available_now=False)
    with tracer.span("event_dedup_open.warmup"):
        warm_gen = LoadGen(warm, time.time(), inputs["in"], inputs["staging"], "warm")
        warm_gen.run()
        log.wait_rows(query, warm.lines, ctx.deadline)
    ctx.warmed_up(time.time())

    start_s = time.time() + TICK_S
    gen = LoadGen(timed, start_s, inputs["in"], inputs["staging"], "timed")
    with tracer.span("event_dedup_open.open_loop"):
        gen.start()
        gen.join(timeout=max(1.0, ctx.deadline - time.time()))
        if gen.is_alive() or gen.error is not None:
            raise RuntimeError(f"load generator did not finish: {gen.error!r}")
    with tracer.span("event_dedup_open.drain"):
        log.wait_rows(query, warm.lines + timed.lines, ctx.deadline)
    with tracer.span("event_dedup_open.stop_query"):
        stop_when_idle(query, ctx.deadline)

    with tracer.span("event_dedup_open.read_sink"):
        sink = read_sink(inputs["out"])
        commit_of: dict[int, list[float]] = {}
        files = n_bytes = 0
        for _, mtime, new in sink:
            for path, size in new:
                files += 1
                n_bytes += size
                for eid in pq.read_table(path, columns=["event_id"]).column(0).to_pylist():
                    commit_of.setdefault(eid, []).append(mtime)

    emitted = Counter({eid: len(times) for eid, times in commit_of.items()})
    if ctx.fault:
        emitted[next(iter(emitted))] += 1
    expected = set(warm.ids) | set(timed.ids)
    missing = len(expected - set(emitted))
    unexpected = sum(n for eid, n in emitted.items() if eid not in expected)
    repeated = sum(n - 1 for eid, n in emitted.items() if eid in expected and n > 1)
    ctx.attempted += warm.lines + timed.lines
    if missing or unexpected or repeated:
        ctx.fail(missing + unexpected + repeated,
                 f"event_dedup_open: {missing} missing, {repeated} repeated, "
                 f"{unexpected} unexpected event ids")

    created = {eid: start_s + off for eid, off in timed.created_off.items()}
    latency_ms = [
        (commit_of[eid][0] - created[eid]) * 1000 for eid in timed.ids if eid in commit_of
    ]
    last_commit = max(commit_of[eid][0] for eid in timed.ids if eid in commit_of)
    distinct = len(set(timed.ids))
    ctx.detail.update({
        "event_latency_ms_p50": (pct(latency_ms, 50), "ms"),
        "event_latency_ms_p99": (pct(latency_ms, 99), "ms"),
        "events_per_s": (distinct / (last_commit - start_s), "1/s"),
        "events_timed": (len(latency_ms), "count"),
        "rate_per_s": (RATE_PER_S, "1/s"),
    })
    ctx.e2e["throughput_per_s"] = distinct / (last_commit - start_s)
    ctx.e2e["latency_ms"] = pct(latency_ms, 50)
    ctx.e2e["latency_ms_tail"] = pct(latency_ms, 99)

    updates = log.of(query.id)
    batches = [(t, p) for t, p in data_batches(updates) if t > start_s]
    ctx.layer.update(pipeline_metrics(batches))
    backlog, committed = [], 0
    for arrived, progress in batches:
        committed += progress.numInputRows
        backlog.append(sum(n for t, n in gen.sent if t <= arrived) - committed)
    trigger_start = {p.batchId: _iso_to_epoch(p.timestamp) for _, p in batches}
    gaps = [(mtime - trigger_start[b]) * 1000 for b, mtime, _ in sink if b in trigger_start]
    ctx.layer.update({
        "files.latest_offset_ms_p50": pct(
            [p.durationMs.get("latestOffset", 0) for _, p in batches], 50),
        "files.rows_per_batch_p50": pct([p.numInputRows for _, p in batches], 50),
        "pipelines.backlog_events_max": max(backlog) if backlog else 0,
        "sink.files_written": files,
        "sink.bytes_written": n_bytes,
        "sink.commit_gap_ms_p50": pct(gaps, 50) if gaps else 0.0,
        "loadgen.late_ms_p99": pct(gen.late_ms, 99),
        "loadgen.events_sent": sum(n for _, n in gen.sent),
    })
