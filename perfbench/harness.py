"""Shared machinery of the benchmark: environment, session set-up,
span tracing, the streaming progress log, and small statistics.

Nothing here starts a thread, process or JVM at import time; the
workload modules call into it from ``run.py``'s main.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import threading
import time
import uuid

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
# Everything a run writes (inputs, checkpoints, sinks, Spark scratch,
# spans) stays under this directory of the checkout.
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench_work")


def prepare_env(work: str) -> None:
    """Environment for the driver JVM and the Python workers it forks.

    Must run before the first ``get_spark``: the JVM, and through it
    every Python data-source worker, inherits these variables. The
    workers unpickle ``crane_spark.sources.spout`` classes, so the repo
    root goes on their PYTHONPATH; this makes the runner independent of
    the working directory it is started from.
    """
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    paths = [REPO_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{java_opts} -Djava.io.tmpdir={tmp}".strip()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ---------------------------------------------------------------- stats


def pct(values, p: float) -> float:
    """Linear-interpolated percentile (p in 0..100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def peak_rss_mb(jvm_pid: int) -> float:
    """Highest resident set (VmHWM) of the driver JVM plus this Python
    driver process, in MB."""
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


# -------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans (name, start, end, parent, run id) written out
    when the run ends. Disabled, ``span`` is a no-op context, so the
    untraced run pays nothing but the call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._local = threading.local()
        self._next_id = 0

    @contextlib.contextmanager
    def _record(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        self._next_id += 1
        span = {
            "id": self._next_id,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run_id": self.run_id,
            "start": time.time(),
        }
        stack.append(span)
        try:
            yield
        finally:
            stack.pop()
            span["end"] = time.time()
            self.spans.append(span)

    def span(self, name: str):
        return self._record(name) if self.enabled else contextlib.nullcontext()

    def overhead_ms(self) -> float:
        """Estimated tracing cost of this run: spans recorded times the
        measured cost of one span."""
        if not self.spans:
            return 0.0
        probe = Tracer(True)
        n = 2000
        start = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        per_span = (time.perf_counter() - start) / n
        return len(self.spans) * per_span * 1000.0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for span in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(span) + "\n")


# ------------------------------------------------------------- session


class Session:
    """The engine session as the benchmark builds it: ``get_spark()``
    defaults, plus the spout data source registered."""

    def __init__(self):
        self.spark = None
        self.get_spark_s = 0.0

    def start(self) -> None:
        from crane_spark import get_spark
        from crane_spark.sources.spout import CraneSpoutDataSource

        start = time.perf_counter()
        spark = get_spark("crane_perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        spark.dataSource.register(CraneSpoutDataSource)
        self.get_spark_s = time.perf_counter() - start
        self.spark = spark

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self) -> None:
        """Stop the session and wait until the JVM has exited, so that
        nothing of it outlives the run or prints after the result."""
        if self.spark is None:
            return
        for query in self.spark.streams.active:
            query.stop()
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# ------------------------------------------------------- progress log


def make_progress_log():
    """A StreamingQueryListener that keeps EVERY progress update (the
    query's own ``recentProgress`` keeps only the last
    ``spark.sql.streaming.numRecentProgressUpdates``), stamped with the
    wall-clock time it reached the driver."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.updates: list[tuple[float, object]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            arrived = time.time()
            with self.lock:
                self.updates.append((arrived, event.progress))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def of(self, query_id) -> list[tuple[float, object]]:
            qid = str(query_id)
            with self.lock:
                return [(t, p) for t, p in self.updates if str(p.id) == qid]

        def wait_rows(self, query, rows: int, deadline: float) -> float:
            """Block until ``rows`` input rows of ``query`` are counted
            by committed micro-batches; return the arrival time of the
            update that reached it."""
            while True:
                if query.exception() is not None:
                    raise RuntimeError(f"streaming query failed: {query.exception()}")
                total = 0
                for arrived, progress in self.of(query.id):
                    total += progress.numInputRows
                    if total >= rows:
                        return arrived
                if time.time() > deadline:
                    raise TimeoutError(f"only {total} of {rows} input rows counted")
                time.sleep(0.005)

    return ProgressLog()


def stop_when_idle(query, deadline: float) -> None:
    """Stop a query between triggers: stopping one mid-commit (e.g. a
    watermark-only batch that runs after the last data) logs spurious
    state-store commit errors."""
    while query.status["isTriggerActive"] and time.time() < deadline:
        time.sleep(0.005)
    query.stop()


def data_batches(updates) -> list[tuple[float, object]]:
    return [(t, p) for t, p in updates if p.numInputRows > 0]


def pipeline_metrics(batches) -> dict:
    """Micro-batch engine and state-store metrics over data batches."""
    dur = [p.durationMs for _, p in batches]
    ops = [p.stateOperators[0] for _, p in batches if p.stateOperators]

    def p50(key):
        vals = [d.get(key, 0) for d in dur]
        return pct(vals, 50) if vals else 0.0

    last = ops[-1] if ops else None
    return {
        "pipelines.batches": len(batches),
        "pipelines.add_batch_ms_p50": p50("addBatch"),
        "pipelines.query_planning_ms_p50": p50("queryPlanning"),
        "pipelines.wal_commit_ms_p50": p50("walCommit"),
        "pipelines.commit_offsets_ms_p50": p50("commitOffsets"),
        "state.commit_ms_p50": pct([o.commitTimeMs for o in ops], 50) if ops else 0.0,
        "state.instances": last.numStateStoreInstances if last else 0,
        "state.rows_total": last.numRowsTotal if last else 0,
        "state.memory_bytes": last.memoryUsedBytes if last else 0,
        "state.rows_updated": sum(o.numRowsUpdated for o in ops),
        "state.rows_removed": sum(o.numRowsRemoved for o in ops),
        "state.rows_dropped_by_watermark": sum(o.numRowsDroppedByWatermark for o in ops),
    }
