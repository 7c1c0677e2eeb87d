"""batch_mix: one closed-loop client cycling through the three reference
topologies and five TPC-H shapes over a generated sf0.1 star schema.

Each query is timed from ``REGISTRY[name].fn(spark, sf_dir)`` to the
end of its noop write. The loop runs whole cycles (every query once,
in a seeded order), at least ``MIN_CYCLES`` and until ``--seconds`` have
passed, so every run weighs the queries equally. The warm-up is a pass
that collects every query's result and ``WARM_CYCLES`` untimed noop
cycles; after the timed loop the collected results are compared with
the DuckDB oracle.
The tables are the same on every run; ``--seed`` only sets the query
order.
"""

from __future__ import annotations

import math
import random
import time

from datagen import star_schema
from harness import pct

from crane_spark.queries import REGISTRY
from crane_spark.testing import diff_frames, duck_connection

# The first noop cycle after the cold collect pass still runs 20-25 %
# slower than later ones while the JVM warms up, so it is part of the
# warm-up.
WARM_CYCLES = 1
MIN_CYCLES = 2

QUERIES = (
    "wordcount",
    "user_filter_count",
    "pagerank_contrib",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q18_large_volume",
)


def make_inputs(args, out_dir: str) -> dict:
    star_schema(out_dir, args.sf)
    return {"sf_dir": out_dir}


def _geomean(values) -> float:
    logs = [math.log(v) for v in values]
    return math.exp(sum(logs) / len(logs))


def _shuffle_write_bytes(spark) -> int:
    """Shuffle bytes written by every stage so far, from the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    quantiles = getattr(store, "stageList$default$4")()
    stages = store.stageList(None, False, False, quantiles, None)
    return sum(int(stages.apply(i).shuffleWriteBytes()) for i in range(stages.size()))


def run(ctx, inputs) -> None:
    spark, tracer = ctx.spark, ctx.tracer
    sf_dir = inputs["sf_dir"]

    results = {}
    with tracer.span("batch_mix.warmup"):
        for name in QUERIES:
            with tracer.span(f"queries.{name}.collect"):
                results[name] = REGISTRY[name].fn(spark, sf_dir).toPandas()
            ctx.attempted += 1
        for _ in range(WARM_CYCLES):
            for name in QUERIES:
                REGISTRY[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                ctx.attempted += 1
    ctx.warmed_up(time.time())

    rng = random.Random(ctx.args.seed)
    order = list(QUERIES)
    build_ms, exec_ms, total_s = [], [], []
    per_query: dict[str, list[float]] = {n: [] for n in QUERIES}
    shuffle_before = _shuffle_write_bytes(spark) if tracer.enabled else 0
    with tracer.span("batch_mix.timed_loop"):
        start = time.perf_counter()
        cycles = 0
        while True:
            rng.shuffle(order)
            for name in order:
                with tracer.span(f"queries.{name}"):
                    t0 = time.perf_counter()
                    with tracer.span("queries.build"):
                        df = REGISTRY[name].fn(spark, sf_dir)
                    t1 = time.perf_counter()
                    with tracer.span("queries.exec"):
                        df.write.mode("overwrite").format("noop").save()
                    t2 = time.perf_counter()
                build_ms.append((t1 - t0) * 1000)
                exec_ms.append((t2 - t1) * 1000)
                total_s.append(t2 - t0)
                per_query[name].append(t2 - t0)
                ctx.attempted += 1
            cycles += 1
            elapsed = time.perf_counter() - start
            done = cycles >= MIN_CYCLES and elapsed >= ctx.args.seconds
            if done or time.time() > ctx.deadline:
                break
    if tracer.enabled:
        ctx.layer["queries.shuffle_write_bytes"] = _shuffle_write_bytes(spark) - shuffle_before

    # The mix's latencies: each query's median (p75) over the timed
    # cycles, then their geometric mean. Unlike a pooled percentile,
    # which falls on one or two particular queries of this fixed, uneven
    # mix, it weighs every query equally.
    medians = {name: pct(times, 50) for name, times in per_query.items()}
    geomean_s = _geomean(medians.values())
    geomean_p75_s = _geomean(pct(times, 75) for times in per_query.values())
    ctx.detail.update({
        "query_s_geomean": (geomean_s, "s"),
        "query_s_p75_geomean": (geomean_p75_s, "s"),
        "query_s_p50": (pct(total_s, 50), "s"),
        "query_s_p75": (pct(total_s, 75), "s"),
        "queries_per_s": (len(total_s) / elapsed, "1/s"),
        "queries_timed": (len(total_s), "count"),
        **{f"{name}_s": (m, "s") for name, m in medians.items()},
    })
    ctx.e2e["throughput_per_s"] = len(total_s) / elapsed
    ctx.e2e["latency_ms"] = geomean_s * 1000
    ctx.e2e["latency_ms_tail"] = geomean_p75_s * 1000
    ctx.layer.update({
        "queries.build_ms_p50": pct(build_ms, 50),
        "queries.exec_ms_p50": pct(exec_ms, 50),
        "topology.pagerank_contrib_s": medians["pagerank_contrib"],
    })

    with tracer.span("batch_mix.oracle_check"):
        con = duck_connection(sf_dir)
        try:
            for i, name in enumerate(QUERIES):
                got = results[name]
                if ctx.fault and i == 0:
                    got = got.iloc[1:]
                problems = diff_frames(got, con.execute(REGISTRY[name].sql).df())
                if problems:
                    ctx.fail(1 + WARM_CYCLES + len(per_query[name]), f"{name}: {problems[0]}")
        finally:
            con.close()
