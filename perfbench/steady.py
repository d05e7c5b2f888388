"""Steadiness check: runs every workload in two sets of runs and reports,
per end-to-end metric, each set's median and quartiles, the spread
(interquartile distance over the median) and whether the two sets agree
within the bound ``BENCHMARK.json`` fixes. The workloads and the run
length come from ``BENCHMARK.json``. Optional traced runs give the tracing
overhead (traced minus untraced ``op_p50_ms``).

    python3 perfbench/steady.py --runs 10 [--traced 1]

Run from the checkout root. Exits non-zero when the sets disagree, a spread
exceeds its bound or a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.monotonic() - t
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per set and workload")
    ap.add_argument("--traced", type=int, default=0, help="traced runs per workload")
    a = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    workloads = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs: dict[tuple[str, int], list[dict]] = {}
    for s in range(SETS):
        for w in workloads:
            for i in range(a.runs):
                runs.setdefault((w, s), []).append(one_run(w, 1000 * (s + 1) + i, seconds, 0))
    traced = {}
    for w in workloads:
        for i in range(a.traced):
            traced.setdefault(w, []).append(one_run(w, 9000 + i, seconds, 1))

    ok = True
    print(f"run_seconds={seconds:g}, {a.runs} runs per set, seeds 1000+i (set 1), "
          "2000+i (set 2)")
    for w in workloads:
        sets = [runs[(w, s)] for s in range(SETS)]
        shares = {r["failed"] / r["attempted"] for rs in sets for r in rs}
        walls = [r["wall_s"] for rs in sets for r in rs]
        print(f"\n{w}: attempted/run {statistics.median(r['attempted'] for r in sets[0]):g}, "
              f"failed share {sorted(shares)}, run wall median {statistics.median(walls):.1f} s "
              f"(max {max(walls):.1f} s)")
        ok &= len(shares) == 1 and all(r["correct"] for rs in sets for r in rs)
        for m, bound in bounds.items():
            cells, meds = [], []
            for rs in sets:
                xs = [r["metrics"][m]["value"] for r in rs]
                q1, q2, q3 = statistics.quantiles(xs, n=4)
                spread = (q3 - q1) / q2
                meds.append(q2)
                cells.append(f"{q2:10.4g} [{q1:.4g}, {q3:.4g}] spread {spread:6.1%}")
                ok &= spread <= bound
            shift = meds[1] / meds[0] - 1
            agree = abs(shift) <= bound
            ok &= agree
            print(f"  {m:12s} bound {bound:5.1%} | " + " | ".join(cells)
                  + f" | shift {shift:+6.1%} {'agree' if agree else 'DISAGREE'}")
        if traced.get(w):
            tr = statistics.median(r["metrics"]["trace.op_p50_ms"]["value"] for r in traced[w])
            un = statistics.median(r["metrics"]["op_p50_ms"]["value"] for rs in sets for r in rs)
            print(f"  tracing overhead on op_p50_ms: {tr - un:+.1f} ms "
                  f"({tr / un - 1:+.1%}) over {len(traced[w])} traced runs")
    print("\nsteady" if ok else "\nNOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
