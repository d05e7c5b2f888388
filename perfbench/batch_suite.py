"""batch_suite: the 16 ``bench.py`` HEADLINE queries, closed loop, one
client.

One operation builds one registered query and runs it into the noop sink
from a cleared cache, so every sample of a query does the same work: plan
construction (with eager ``stage()`` materialization), Catalyst, and every
executor stage. The seed sets the query order of each pass.
"""

from __future__ import annotations

import os
import random
import sys
import time

from perfbench.harness import (
    TABLES,
    StageMeter,
    executor_metrics,
    generate_tables,
    median,
    metric,
    peak_rss_mb,
    persisted_rdds,
)

SF = 0.01
# Pass 1 collects every result (kept for the output check); passes 2-3 run
# the timed noop path. Pass times kept falling until about pass 4 on a
# 4-core host (22.3, 8.0, 7.8, 6.7, 6.5 s).
WARM_PASSES = 3


def run(r) -> dict:
    import bench

    names = list(bench.HEADLINE)
    data = generate_tables(SF, os.path.join(r.work, "data"))
    spark = r.start_spark()
    from minibatch_spark.registry import all_oracles, all_queries

    queries = all_queries()
    meter = StageMeter(spark)
    rng = random.Random(r.seed)
    modules = {n: queries[n].__module__.rsplit(".", 1)[-1] for n in names}

    def one(name: str, group: str, collect: bool):
        spark.catalog.clearCache()
        meter.group(group)
        with r.span("query", query=name) as q:
            with r.span("registry.construct"):
                df = queries[name](spark, data)
            if r.trace:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                ph = qe.tracker().phases()
                for k in ("analysis", "optimization", "planning"):
                    q[k] = ph.get(k).get().durationMs()
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
            return None

    results = {}
    for p in range(WARM_PASSES):
        order = rng.sample(names, len(names))
        for name in order:
            out = one(name, f"warm{p}:{name}", collect=p == 0)
            if p == 0:
                results[name] = out

    # timed region: whole passes until the run length is reached
    setup_s = r.elapsed()
    passes = []  # (wall_s, group names, first span index)
    t_end = time.monotonic() + r.seconds
    while not passes or time.monotonic() < t_end:
        order = rng.sample(names, len(names))
        first_span = len(r.spans)
        groups = [f"pass{len(passes)}:{n}" for n in order]
        t0 = time.perf_counter()
        for name, g in zip(order, groups):
            one(name, g, collect=False)
        passes.append((time.perf_counter() - t0, groups, first_span))
        r.attempted += len(order)

    totals = [meter.totals(groups) for _, groups, _ in passes]
    persisted = persisted_rdds(spark)
    rss = peak_rss_mb(spark)
    spark.catalog.clearCache()

    r.correct = _check(data, results, all_oracles())

    suite_ms = median(w for w, _, _ in passes) * 1e3
    if not r.trace:
        return {
            "setup_s": metric(setup_s, "s"),
            "peak_rss_mb": metric(rss, "MB"),
            "op_p50_ms": metric(suite_ms, "ms"),
        }
    out = _layers(r, passes, totals, modules)
    out["trace.op_p50_ms"] = metric(suite_ms, "ms")
    out["cache.persisted_after"] = metric(persisted, "count")
    return out


def _layers(r, passes, totals, modules) -> dict:
    """Per-pass layer figures (span sums, status-store totals), median
    over the timed passes."""
    per_pass = []
    for i, (_, _, first) in enumerate(passes):
        last = passes[i + 1][2] if i + 1 < len(passes) else len(r.spans)
        spans = r.spans[first:last]
        qs = [s for s in spans if s["name"] == "query"]
        row = {
            "registry.construct_ms": sum(
                (s["end"] - s["start"]) * 1e3 for s in spans
                if s["name"] == "registry.construct"),
            "catalyst.analysis_ms": sum(s["analysis"] for s in qs),
            "catalyst.optimization_ms": sum(s["optimization"] for s in qs),
            "catalyst.planning_ms": sum(s["planning"] for s in qs),
        }
        for s in qs:
            ms = (s["end"] - s["start"]) * 1e3
            row[f"{s['query']}.ms"] = ms
            mod = f"{modules[s['query']]}.ms"
            row[mod] = row.get(mod, 0.0) + ms
        per_pass.append(row)
    out = {k: metric(median(row[k] for row in per_pass), "ms")
           for k in per_pass[0]}
    blocks = [executor_metrics(t) for t in totals]
    for k, v in blocks[0].items():
        out[k] = metric(median(b[k]["value"] for b in blocks), v["unit"])
    return out


def _check(data: str, results: dict, oracles: dict) -> bool:
    """Every query's result equals its registry oracle SQL in DuckDB."""
    import duckdb

    from tests.oracle_util import assert_frames_match

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, t)}.parquet')")
        for name, got in sorted(results.items()):
            assert_frames_match(got, con.execute(oracles[name]).df(), name)
    except AssertionError as e:
        print(f"batch_suite check failed: {e}", file=sys.stderr)
        return False
    finally:
        con.close()
    return True
