"""stream_window: open-loop append -> CountWindow emit latency.

A separate producer process (perfbench/producer.py) appends messages
through ``Stream.append`` at a fixed rate; an in-process ``CountWindow``
runs on a fixed processing-time trigger. A window's latency runs from the
due time of its last message to the call of its emit function, so a stall
also charges the wait it imposes on later messages. Traffic runs at the
measured rate through a warm-up before timing starts.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

from perfbench import producer
from perfbench.harness import (
    ProgressLog,
    median,
    metric,
    peak_rss_mb,
    persisted_rdds,
    tail_percentile,
)

RATE = 2000  # messages per second
WINDOW = 10  # messages per window: 200 windows/s, >= 1000 in 5 s for p99
BATCH = 100  # Batcher flush size: one parquet file per 50 ms
TRIGGER_S = 0.5
WARM_S = 8.0  # cold-JVM backlog clears within ~6 s at this rate
TAIL_S = 1.0  # traffic after the timed region, so its last trigger is normal
LEAD_S = 1.0  # query start -> first message
# Spark fires processing-time triggers on multiples of the interval since
# the epoch. Message 0 is due this far past such a multiple, so each run
# sees the same phase between Batcher flushes (every 50 ms) and triggers;
# a free phase moved the median latency by ~90 ms from run to run.
PHASE_S = 0.025


def run(r) -> dict:
    spark = r.start_spark()
    from minibatch_spark.streaming.models import Stream
    from minibatch_spark.streaming.window import CountWindow

    base = os.path.join(r.work, "streams")
    stream = Stream("sw", base_dir=base)
    emitted = []  # (message indices, payload values, last due, emit time)

    def emit(w):
        now = time.time()
        emitted.append(([m["i"] for m in w.data], [m["v"] for m in w.data],
                        w.data[-1]["due"], now))

    em = CountWindow(stream, emitfn=emit, size=WINDOW)
    if r.trace:
        on_batch = em._on_batch

        def traced_on_batch(df, batch_id):
            with r.span("window.add_batch"):
                on_batch(df, batch_id)

        em._on_batch = traced_on_batch
        progress = ProgressLog(spark)

    em.run(spark, blocking=False, trigger_seconds=TRIGGER_S)
    t0 = math.ceil((time.time() + LEAD_S) / TRIGGER_S) * TRIGGER_S + PHASE_S
    lo = int(WARM_S * RATE)
    hi = lo + int(r.seconds * RATE) // WINDOW * WINDOW
    count = hi + int(TAIL_S * RATE) // WINDOW * WINDOW
    out = os.path.join(r.work, "producer.json")
    cmd = [sys.executable, producer.__file__]
    for k, v in (("base", base), ("name", stream.name), ("rate", RATE),
                 ("batch", BATCH), ("t0", repr(t0)), ("count", count),
                 ("seed", r.seed), ("lo", lo), ("hi", hi), ("out", out)):
        cmd += [f"--{k}", str(v)]
    proc = subprocess.Popen(cmd)
    try:
        proc.wait(timeout=WARM_S + r.seconds + TAIL_S + 60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"producer exited with {proc.returncode}")
    deadline = time.monotonic() + 60
    while len(emitted) < count // WINDOW and time.monotonic() < deadline:
        time.sleep(0.05)
    em.stop()
    if r.trace:
        progress.close()

    mono_minus_wall = time.monotonic() - time.time()
    timed_from = t0 + lo / RATE + mono_minus_wall  # first timed due, monotonic
    timed_to = t0 + hi / RATE + mono_minus_wall
    setup_s = timed_from - r.t_start
    lat = [(now - due) * 1e3 for idx, _, due, now in emitted if lo <= idx[-1] < hi]
    r.attempted = len(lat)
    r.correct = _check(emitted, count, r.seed)
    rss = peak_rss_mb(spark)
    if not r.trace:
        return {
            "setup_s": metric(setup_s, "s"),
            "peak_rss_mb": metric(rss, "MB"),
            "op_p50_ms": metric(median(lat), "ms"),
        }

    with open(out) as f:
        gen = json.load(f)
    evs = [e for e in progress.events
           if timed_from <= e["at"] < timed_to + TRIGGER_S and e["rows"] > 0]
    return {
        "trace.op_p50_ms": metric(median(lat), "ms"),
        "window.emit_p99_ms": metric(tail_percentile(lat, 99), "ms"),
        "window.add_batch_ms": metric(median(r.span_ms("window.add_batch", timed_from)), "ms"),
        "window.emitted": metric(len(lat), "count"),
        "models.append_us": metric(1e6 * sum(gen["busy_s"]) / len(gen["busy_s"]), "us"),
        "models.files": metric(gen["files"], "count"),
        "generator.late_ms": metric(tail_percentile(gen["late_s"], 99) * 1e3, "ms"),
        "source.latest_offset_ms": metric(median(e["ms"].get("latestOffset", 0) for e in evs), "ms"),
        "source.get_batch_ms": metric(median(e["ms"].get("getBatch", 0) for e in evs), "ms"),
        "microbatch.planning_ms": metric(median(e["ms"].get("queryPlanning", 0) for e in evs), "ms"),
        "microbatch.count": metric(len(evs), "count"),
        "microbatch.rows_p50": metric(median(e["rows"] for e in evs), "count"),
        "checkpoint.commit_ms": metric(median(
            e["ms"].get("walCommit", 0) + e["ms"].get("commitOffsets", 0) for e in evs), "ms"),
        "cache.persisted_after": metric(persisted_rdds(spark), "count"),
    }


def _check(emitted, count: int, seed: int) -> bool:
    """Concatenated windows hold every message exactly once, in order, in
    windows of exactly WINDOW messages, each with its seeded payload."""
    ids = [i for idx, _, _, _ in emitted for i in idx]
    vals = [v for _, vs, _, _ in emitted for v in vs]
    problems = []
    if any(len(idx) != WINDOW for idx, _, _, _ in emitted):
        problems.append("a window does not hold exactly %d messages" % WINDOW)
    if ids != list(range(count)):
        problems.append(f"messages emitted {len(ids)} of {count}, or out of order")
    if vals != [producer.payload_value(seed, i) for i in ids]:
        problems.append("payload values differ from the seeded sequence")
    for p in problems:
        print(f"stream_window check failed: {p}", file=sys.stderr)
    return not problems
