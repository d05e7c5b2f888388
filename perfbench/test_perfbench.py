"""Smoke-size tests of the benchmark itself (not part of the program's
suite): ``python -m pytest perfbench -q`` from the checkout root.

They run every workload through the full command path at smoke size
(sf0.001 tables, a one-second stream), and pin the percentile rule and the
generator's due-time lateness accounting."""

from __future__ import annotations

import contextlib
import io
import json
import os
import time

import pytest

from perfbench import harness, producer, run


def test_tail_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 1001))
    assert harness.tail_percentile(xs, 99) == 990
    with pytest.raises(ValueError):
        harness.tail_percentile(xs[:999], 99)
    assert harness.tail_percentile(xs[:100], 90) == 90
    with pytest.raises(ValueError):
        harness.tail_percentile(xs[:99], 90)
    assert harness.percentile([5.0], 99) == 5.0


def test_generator_charges_lateness_from_due_time(tmp_path):
    """Messages due before the generator starts count as late by the time
    they waited; later ones run on schedule. Files flush per Batcher."""
    import minibatch_spark.streaming.models  # noqa: F401  (import before t0)

    out = tmp_path / "gen.json"
    rate, count, batch = 200.0, 300, 10
    t0 = time.time() - 0.1  # messages 0..19 were due before the start
    producer.main([
        "--base", str(tmp_path), "--name", "s", "--rate", str(rate),
        "--batch", str(batch), "--t0", repr(t0), "--count", str(count),
        "--seed", "7", "--lo", "0", "--hi", str(count), "--out", str(out)])
    gen = json.loads(out.read_text())
    late = gen["late_s"]
    assert len(late) == len(gen["busy_s"]) == count
    assert late[0] >= 0.1  # the backlog waited at least since its due time
    assert all(x >= 0 for x in late)
    assert max(late[-100:]) < 0.05  # then it caught up with its schedule
    assert gen["files"] == count // batch
    files = os.listdir(tmp_path / "streams" / "s" / "buffer")
    assert len(files) == count // batch


def _run(argv) -> dict:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = run.main(argv)
    res = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert code == 0 and res["correct"] is True
    assert res["attempted"] >= 1 and res["failed"] == 0
    return res


@pytest.fixture
def smoke_sizes(monkeypatch):
    from perfbench import batch_suite, store_ingest, stream_window

    monkeypatch.setattr(batch_suite, "SF", 0.001)
    monkeypatch.setattr(store_ingest, "SF", 0.001)
    monkeypatch.setattr(store_ingest, "WARM_DOCS", 10)
    monkeypatch.setattr(store_ingest, "BATCHES", 2)
    monkeypatch.setattr(stream_window, "WARM_S", 1.0)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_workload_end_to_end_smoke(smoke_sizes, workload):
    res = _run(["--workload", workload, "--seed", "3", "--seconds", "1"])
    m = res["metrics"]
    assert set(m) == set(harness.END_TO_END)
    assert all(v["value"] > 0 and v["unit"] == harness.END_TO_END[k]
               for k, v in m.items())


def test_batch_suite_traced_smoke(smoke_sizes):
    res = _run(["--workload", "batch_suite", "--seed", "4", "--seconds", "1",
                "--trace", "1"])
    m = res["metrics"]
    assert set(m) == set(harness.PER_LAYER)
    assert m["registry.construct_ms"]["value"] > 0
    assert m["executor.tasks"]["value"] > 0
    assert m["window.emitted"]["value"] == 0  # a layer this workload never enters
    assert os.path.exists(os.path.join(harness.ROOT, ".bench_out",
                                       "spans-batch_suite-4.json"))
