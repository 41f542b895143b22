"""Functions the benchmark submits through remote_parallel_map.

They run in Spark's Python workers and stamp their own start and end
with ``time.time()`` (same host as the driver in local mode), so the
benchmark can see dispatch, busy time and result lag without any
tracing inside the program.
"""

from __future__ import annotations

import os
import time


def spin(i: int, n: int):
    """Pure-Python work of ``n`` steps; every 100th input prints one
    line carrying the moment it was printed."""
    t0 = time.time()
    s = 0
    for k in range(n):
        s += k
    if i % 100 == 0:
        print(f"{i} {time.time()!r}")
    return (i, s, os.getpid(), t0, time.time())


def reverse_blob(b: bytes):
    t0 = time.time()
    r = b[::-1]
    return (os.getpid(), t0, time.time(), r)


def make_doubler(mark_dir: str):
    """``x * 2`` that also records, once per deserialized copy (one per
    task), when it first ran — a 1M-row result cannot carry per-input
    timestamps without changing the workload."""
    first = []

    def double(x):
        if not first:
            first.append(time.time())
            with open(os.path.join(mark_dir, f"{os.getpid()}-{first[0]!r}"), "w"):
                pass
        return x * 2

    return double
