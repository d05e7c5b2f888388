"""Shared machinery of the benchmark: the per-run work directory, the
Spark session, statistics, spans, the status-store reader and peak RSS.

Everything a run writes lives under ``<checkout>/.bench_work/<run>/``
(removed at exit) and ``<checkout>/.bench_out/`` (span dumps).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# Driver heap. session.get_spark defaults spark.driver.memory to 16g, which
# on a 16 GB host let the kernel OOM-kill the JVM during sf0.1 store
# ingests; 2g holds every workload here with room to spare. Both sides of
# any comparison must use the same value.
DRIVER_MEMORY = "2g"

# TPC-H-shaped tables the data generator writes (tools/gen_sf.py).
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

MB = 1024 * 1024

# End-to-end metrics: every workload prints all of them (with --trace 0).
# op_p50_ms is the median of the workload's operation: one pass over the
# 16 queries (batch_suite), one window's append->emit latency
# (stream_window), one micro-batch (store_ingest).
END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_ms": "ms"}

# Per-layer metrics (with --trace 1). A workload that never enters a layer
# reports 0 for it; README.md says which workload moves which metric.
QUERY_MODULES = ("relational", "windows", "dedup", "similarity", "text")
HEADLINE = tuple(__import__("bench").HEADLINE)  # bench.py's 16 queries
PER_LAYER = {
    "trace.op_p50_ms": "ms",
    "registry.construct_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    **{f"{q}.ms": "ms" for q in HEADLINE},
    **{f"{m}.ms": "ms" for m in QUERY_MODULES},
    "executor.run_ms": "ms",
    "executor.gc_ms": "ms",
    "executor.tasks": "count",
    "executor.stages": "count",
    "executor.spill_mb": "MB",
    "scan.input_mb": "MB",
    "exchange.shuffle_read_mb": "MB",
    "exchange.shuffle_write_mb": "MB",
    "models.append_us": "us",
    "models.files": "count",
    "generator.late_ms": "ms",
    "source.latest_offset_ms": "ms",
    "source.get_batch_ms": "ms",
    "microbatch.planning_ms": "ms",
    "microbatch.count": "count",
    "microbatch.rows_p50": "count",
    "window.add_batch_ms": "ms",
    "window.emitted": "count",
    "window.emit_p99_ms": "ms",
    "checkpoint.commit_ms": "ms",
    "dedup_stream.handler_ms": "ms",
    "incremental.process_batch_ms": "ms",
    "incremental.rollback_ms": "ms",
    "incremental.compact_ms": "ms",
    "incremental.compactions": "count",
    "store.files": "count",
    "store.mb": "MB",
    "ingest.docs_per_s": "1/s",
    "cache.persisted_after": "count",
}


class Run:
    """One benchmark run: arguments, work directory, spans and metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 t_start: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_start = t_start  # time.monotonic() at process start
        self.work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
        self.spans: list[dict] = []
        self._local = threading.local()  # span stack per thread
        self._span_lock = threading.Lock()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.correct = True

    # -- lifetime ----------------------------------------------------------
    def prepare_env(self) -> None:
        """Point every temp/scratch location of Python, the program and the
        JVM inside the checkout. Must run before pyspark is imported."""
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "scratch", "streams", "local"):
            os.makedirs(os.path.join(self.work, d))
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["MINIBATCH_SPARK_SCRATCH"] = os.path.join(self.work, "scratch")
        os.environ["MINIBATCH_SPARK_DIR"] = os.path.join(self.work, "streams")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    def start_spark(self):
        from minibatch_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                    f"-Xms{DRIVER_MEMORY} -Xmn512m"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        """Stop Spark, wait for the JVM to exit, write spans, drop work dir."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
            self.spark = None
        if self.trace:
            out = os.path.join(ROOT, ".bench_out")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"spans-{self.workload}-{self.seed}.json")
            with open(path, "w") as f:
                json.dump(self.spans, f)
        shutil.rmtree(self.work, ignore_errors=True)

    def elapsed(self) -> float:
        return time.monotonic() - self.t_start

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record (name, start, end, parent) when tracing; free otherwise."""
        if not self.trace:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "parent": stack[-1]["id"] if stack else None,
               "start": time.monotonic(), "end": None, **attrs}
        with self._span_lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.monotonic()

    def span_ms(self, name: str, after: float = float("-inf")) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans
                if s["name"] == name and s["start"] >= after]


# -- statistics --------------------------------------------------------------
def median(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile ``p`` (0-100) of ``xs``."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return float(s[k])


def tail_percentile(xs, p: float) -> float:
    """Percentile ``p`` only when at least ten samples lie beyond it: a
    p99 from fewer than 1000 samples is a maximum, not a tail."""
    n = len(xs)
    if n * (100 - p) / 100 < 10:
        raise ValueError(f"p{p:g} needs {int(1000 / (100 - p))} samples, got {n}")
    return percentile(xs, p)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


# -- input data ----------------------------------------------------------------
def generate_tables(sf: float, out_root: str) -> str:
    """Deterministic TPC-H-shaped tables at scale ``sf`` (tools/gen_sf.py,
    fixed generator seed); returns the table directory."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import gen_sf
    finally:
        sys.path.pop(0)
    with contextlib.redirect_stdout(io.StringIO()):
        return gen_sf.gen(sf, out_root)


# -- Spark-side readings -------------------------------------------------------
def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process."""
    jpid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vmhwm_kb(jpid) + _vmhwm_kb(os.getpid())) / 1024


def _vmhwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def persisted_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


STAGE_FIELDS = ("executorRunTime", "jvmGcTime", "inputBytes", "shuffleReadBytes",
                "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled")


class StageMeter:
    """Executor metrics summed over the stages of a job group, read from
    Spark's always-on status store (works with the UI disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def totals(self, groups) -> dict:
        """Sums over every stage of every job in ``groups``; a stage shared
        by two jobs (a reused shuffle) counts once."""
        self.bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        tot["tasks"] = tot["stages"] = tot["jobs"] = 0
        seen: set[int] = set()
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                tot["jobs"] += 1
                ids = self.store.job(jid).stageIds()
                for i in range(ids.size()):
                    sid = ids.apply(i)
                    if sid in seen:
                        continue
                    seen.add(sid)
                    st = self.store.lastStageAttempt(sid)
                    if st.status().toString() == "SKIPPED":
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += st.numCompleteTasks()
                    for fld in STAGE_FIELDS:
                        tot[fld] += getattr(st, fld)()
        return tot


def executor_metrics(tot: dict) -> dict:
    """Per-layer metric block from StageMeter totals."""
    return {
        "executor.run_ms": metric(tot["executorRunTime"], "ms"),
        "executor.gc_ms": metric(tot["jvmGcTime"], "ms"),
        "executor.tasks": metric(tot["tasks"], "count"),
        "executor.stages": metric(tot["stages"], "count"),
        "executor.spill_mb": metric(
            (tot["memoryBytesSpilled"] + tot["diskBytesSpilled"]) / MB, "MB"),
        "scan.input_mb": metric(tot["inputBytes"] / MB, "MB"),
        "exchange.shuffle_read_mb": metric(tot["shuffleReadBytes"] / MB, "MB"),
        "exchange.shuffle_write_mb": metric(tot["shuffleWriteBytes"] / MB, "MB"),
    }


class ProgressLog:
    """StreamingQueryListener keeping every progress event in memory."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.events: list[dict] = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                log.events.append({
                    "run_id": str(p.runId), "batch_id": p.batchId,
                    "rows": p.numInputRows, "ms": dict(p.durationMs),
                    "at": time.monotonic(),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)
