"""Open-loop load generator for stream_window, run as its own process.

Message ``i`` is due at ``t0 + i / rate`` (wall clock) and is appended
through ``Stream.append`` with a Batcher flush every ``batch`` messages,
whatever the consumer is doing. Its payload carries the index, the due
time and a seeded value. On exit the generator writes its own readings
for the messages in ``[lo, hi)`` to ``out``: how late each append started,
the producer's busy time per append, and the files it flushed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def payload_value(seed: int, i: int) -> int:
    """The seeded value carried by message ``i`` (checked by the consumer)."""
    return random.Random(seed * 1_000_003 + i).getrandbits(31)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    for name, typ in (("base", str), ("name", str), ("rate", float),
                      ("batch", int), ("t0", float), ("count", int),
                      ("seed", int), ("lo", int), ("hi", int), ("out", str)):
        ap.add_argument(f"--{name}", type=typ, required=True)
    a = ap.parse_args(argv)

    from minibatch_spark.streaming.models import Stream

    s = Stream(a.name, base_dir=a.base, batchsize=a.batch)
    late, busy, files = [], [], 0
    for i in range(a.count):
        due = a.t0 + i / a.rate
        now = time.time()
        if now < due:
            time.sleep(due - now)
        start = time.time()
        t = time.perf_counter()
        s.append({"i": i, "due": due, "v": payload_value(a.seed, i)})
        if a.lo <= i < a.hi:
            busy.append(time.perf_counter() - t)
            late.append(start - due)
            files += not s.batcher.rows  # the append flushed a file
    s.flush()
    with open(a.out, "w") as f:
        json.dump({"late_s": late, "busy_s": busy, "files": files}, f)


if __name__ == "__main__":
    main()
