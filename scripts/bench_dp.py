"""Microbenchmark the C alignment DP (``kernel/native.py`` sw_align16).

1. Single-core: per-call wall time at production needle lengths.
2. Contention: K worker processes each hammering long-needle alignments;
   aggregate throughput at 4 and 16 workers, and the scaling efficiency
   between them.

Usage: python scripts/bench_dp.py [mode]
  mode: single | contention | both (default both)
"""

import json
import multiprocessing as mp
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def make_inputs(needle_len: int, seed: int = 42):
    """native_match_blocks arguments: UTF-32-LE haystack and needle bytes
    with their lengths."""
    rng = random.Random(seed)
    alphabet = "abcdefghij klmnop.,"
    window = max(1000, int(needle_len * 1.2 + 0.5) * 4)
    a = "".join(rng.choice(alphabet) for _ in range(window))
    start = window // 3
    b = a[start : start + needle_len]
    return a.encode("utf-32-le"), len(a), b.encode("utf-32-le"), len(b)


def time_calls(needle_len: int, seconds: float = 1.0):
    from sciencebeam_trainer_grobid_tools_spark.kernel import native

    args = make_inputs(needle_len)
    native.native_match_blocks(*args)  # warm scratch + compile
    count = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        native.native_match_blocks(*args)
        count += 1
    dt = time.perf_counter() - t0
    return count / dt, dt / count * 1000.0  # calls/s, ms/call


def _worker(needle_len, seconds, q):
    rate, _ = time_calls(needle_len, seconds)
    q.put(rate)


def contention(workers: int, needle_len: int, seconds: float = 3.0):
    q = mp.Queue()
    procs = [
        mp.Process(target=_worker, args=(needle_len, seconds, q))
        for _ in range(workers)
    ]
    for p in procs:
        p.start()
    rates = [q.get() for _ in procs]
    for p in procs:
        p.join()
    return sum(rates)


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "both"
    out = {}
    if mode in ("single", "both"):
        out["single_core_ms_per_call"] = {
            needle_len: round(time_calls(needle_len)[1], 3)
            for needle_len in [200, 500, 1000, 2000]
        }
    if mode in ("contention", "both"):
        low = contention(4, 1000)
        high = contention(16, 1000)
        out["contention_needle1000"] = {
            "agg_4w": round(low, 1),
            "agg_16w": round(high, 1),
            "scaling_eff_4_to_16": round(high / low / 4.0, 3),
        }
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
