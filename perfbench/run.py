"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_suite --seed 1 --seconds 5 --trace 0

Runs one workload, checks its outputs, and prints as the last line of
stdout one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Exits non-zero when a check fails or the
program cannot be run.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORKLOADS = ("batch_suite", "stream_window", "store_ingest")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from perfbench.harness import END_TO_END, PER_LAYER, Run

    r = Run(args.workload, args.seed, args.seconds, bool(args.trace), T_START)
    r.prepare_env()
    try:
        mod = __import__(f"perfbench.{args.workload}", fromlist=["run"])
        metrics = mod.run(r)
    finally:
        r.close()
    want = PER_LAYER if r.trace else END_TO_END
    wrong = [k for k, m in metrics.items() if want.get(k) != m["unit"]]
    if wrong or (not r.trace and len(metrics) != len(END_TO_END)):
        raise RuntimeError(f"metrics off the declared list: {sorted(metrics)}")
    # a layer the workload never enters reads 0
    metrics = {k: metrics.get(k, {"value": 0.0, "unit": u}) for k, u in want.items()}
    print(json.dumps({"correct": r.correct, "attempted": r.attempted,
                      "failed": r.failed, "metrics": metrics}))
    return 0 if r.correct else 1


if __name__ == "__main__":
    sys.exit(main())
