"""store_ingest: a document corpus streamed through ``dedup_doc_stream``.

The generated ``documents`` table, id-ordered and cut at seeded split
points into one parquet file per micro-batch (``maxFilesPerTrigger=1``),
is deduplicated against a fresh ``MinhashDedupStore``; compaction keeps
its default cadence, and a traced run also compacts each ingested store
once after its ingest. It is the only workload that both reads and writes
standing state. One operation is one micro-batch, timed by Spark's own
``triggerExecution`` progress figure; one ingest (query start to
termination) also gives documents per second. A short warm ingest of the
first documents runs first.
"""

from __future__ import annotations

import os
import random
import sys
import time

from perfbench.harness import (
    MB,
    ProgressLog,
    StageMeter,
    executor_metrics,
    generate_tables,
    median,
    metric,
    peak_rss_mb,
    persisted_rdds,
)

SF = 0.02  # 1000 documents
BATCHES = 4
WARM_DOCS = 100
WARM_BATCHES = 2
STORE_METHODS = ("process_batch", "rollback", "compact")


def split_points(rng: random.Random, n: int, k: int) -> list[int]:
    """``k`` contiguous pieces of ``n`` rows, each within 50% of n/k."""
    step = n / k
    cuts = [round(j * step + rng.uniform(-step / 4, step / 4)) for j in range(1, k)]
    return [0, *cuts, n]


def run(r) -> dict:
    import pyarrow.parquet as pq

    data = generate_tables(SF, os.path.join(r.work, "data"))
    docs = pq.read_table(os.path.join(data, "documents.parquet"),
                         columns=["doc_id", "text"]).sort_by("doc_id")
    spark = r.start_spark()
    from minibatch_spark.operators.incremental import MinhashDedupStore
    from minibatch_spark.streaming.dedup_stream import dedup_doc_stream, read_kept

    meter = StageMeter(spark)
    rng = random.Random(r.seed)
    if r.trace:
        progress = ProgressLog(spark)
        saved = {m: getattr(MinhashDedupStore, m) for m in STORE_METHODS}
        for m, fn in saved.items():
            setattr(MinhashDedupStore, m, _timed(r, f"incremental.{m}", fn))

    def ingest(tag: str, table, bounds) -> dict:
        base = os.path.join(r.work, tag)
        src = os.path.join(base, "src")
        os.makedirs(src)
        for j, (a, b) in enumerate(zip(bounds, bounds[1:])):
            path = os.path.join(src, f"part-{j:04d}.parquet")
            pq.write_table(table.slice(a, b - a), path)
            os.utime(path, (1_000_000_000 + j,) * 2)  # the source reads by mtime
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        meter.group(tag)  # the stream's own jobs run in group runId
        with r.span("ingest", tag=tag):
            t0 = time.perf_counter()
            q = dedup_doc_stream(spark, stream, os.path.join(base, "store"),
                                 os.path.join(base, "sink"), os.path.join(base, "ckpt"))
            q.awaitTermination()
            wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"{tag}: {q.exception()}")
        meter.group(f"{tag}:check")  # keep the check's jobs out of the totals
        kept = sorted(row.doc_id for row in
                      read_kept(spark, os.path.join(base, "sink")).select("doc_id").collect())
        store = os.path.join(base, "store")
        sizes = [os.path.getsize(os.path.join(d, f))
                 for d, _, fs in os.walk(store) for f in fs]
        batch_ms = [p.durationMs["triggerExecution"] for p in q.recentProgress
                    if p.numInputRows > 0]
        return {"tag": tag, "run_id": str(q.runId), "wall": wall, "kept": kept,
                "batch_ms": batch_ms, "store_bytes": sum(sizes),
                "store_files": len(sizes), "store": store}

    warm = docs.slice(0, WARM_DOCS)
    ingest("warm", warm, split_points(rng, WARM_DOCS, WARM_BATCHES))

    setup_s = r.elapsed()
    runs = []
    t_end = time.monotonic() + r.seconds
    while not runs or time.monotonic() < t_end:
        runs.append(ingest(f"ingest{len(runs)}", docs,
                           split_points(rng, docs.num_rows, BATCHES)))
        r.attempted += len(runs[-1]["batch_ms"])
    totals = [meter.totals([x["tag"], x["run_id"]]) for x in runs]
    persisted = persisted_rdds(spark)
    rss = peak_rss_mb(spark)
    if r.trace:
        progress.close()
        # At 4 batches per ingest the stream's own compaction cadence never
        # fires, so compact each ingested store once, after its ingest and
        # outside every triggerExecution, to time the compaction layer.
        for x in runs:
            meter.group(f"{x['tag']}:compact")
            MinhashDedupStore(spark, x["store"]).compact()
        for m, fn in saved.items():
            setattr(MinhashDedupStore, m, fn)

    r.correct = _check(data, runs)
    op_ms = median(ms for x in runs for ms in x["batch_ms"])
    if not r.trace:
        return {
            "setup_s": metric(setup_s, "s"),
            "peak_rss_mb": metric(rss, "MB"),
            "op_p50_ms": metric(op_ms, "ms"),
        }

    timed = {x["run_id"] for x in runs}
    evs = [e for e in progress.events if e["run_id"] in timed and e["rows"] > 0]
    t_first = min(s["start"] for s in r.spans if s.get("tag") == runs[0]["tag"])
    out = {
        "trace.op_p50_ms": metric(op_ms, "ms"),
        "ingest.docs_per_s": metric(median(docs.num_rows / x["wall"] for x in runs), "1/s"),
        "dedup_stream.handler_ms": metric(median(e["ms"]["addBatch"] for e in evs), "ms"),
        "incremental.compactions": metric(
            len(r.span_ms("incremental.compact", t_first)) / len(runs), "count"),
        "store.files": metric(median(x["store_files"] for x in runs), "count"),
        "store.mb": metric(median(x["store_bytes"] for x in runs) / MB, "MB"),
        "source.latest_offset_ms": metric(median(e["ms"]["latestOffset"] for e in evs), "ms"),
        "source.get_batch_ms": metric(median(e["ms"]["getBatch"] for e in evs), "ms"),
        "microbatch.planning_ms": metric(median(e["ms"]["queryPlanning"] for e in evs), "ms"),
        "microbatch.count": metric(len(evs) / len(runs), "count"),
        "microbatch.rows_p50": metric(median(e["rows"] for e in evs), "count"),
        "checkpoint.commit_ms": metric(
            median(e["ms"]["walCommit"] + e["ms"]["commitOffsets"] for e in evs), "ms"),
        "cache.persisted_after": metric(persisted, "count"),
    }
    for m in ("process_batch", "rollback", "compact"):
        ms = r.span_ms(f"incremental.{m}", t_first)
        out[f"incremental.{m}_ms"] = metric(median(ms) if ms else 0.0, "ms")
    blocks = [executor_metrics(t) for t in totals]
    for k, v in blocks[0].items():
        out[k] = metric(median(b[k]["value"] for b in blocks), v["unit"])
    return out


def _timed(r, name: str, fn):
    def wrapper(*args, **kwargs):
        with r.span(name):
            return fn(*args, **kwargs)

    return wrapper


def _check(data: str, runs) -> bool:
    """Every ingest's committed kept ids equal keep=1 of the single-pass
    whole-corpus oracle in DuckDB: batching must not change the kept set."""
    import duckdb

    from minibatch_spark.operators.incremental import _incremental_oracle

    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{os.path.join(data, 'documents.parquet')}')")
        want = sorted(int(d) for (d,) in con.execute(
            f"SELECT doc_id FROM ({_incremental_oracle()}) WHERE keep = 1").fetchall())
    finally:
        con.close()
    ok = True
    for x in runs:
        if x["kept"] != want:
            print(f"store_ingest check failed: {x['tag']} kept {len(x['kept'])} "
                  f"documents, the oracle keeps {len(want)}", file=sys.stderr)
            ok = False
    return ok
