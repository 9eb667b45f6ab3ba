"""Microbenchmark the streaming (non-temporal) DP vs the cached DP.

1. Single-core: per-call wall time at production needle lengths (the NT
   path must not regress single-threaded throughput).
2. Contention: K worker processes each hammering long-needle alignments;
   aggregate throughput at low vs high K.  The cached DP's matrix traffic
   (RFO reads + LLC occupancy) is shared-resource pressure that grows with
   K; the streaming DP removes it.  Reported as scaling efficiency
   low-K -> high-K for both variants.

Usage: python scripts/bench_dp_nt.py [mode]
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


def time_calls(nt: bool, needle_len: int, seconds: float = 1.0):
    from sciencebeam_trainer_grobid_tools_spark.kernel import native

    native._NT_THRESHOLD_BYTES = 0 if nt else (1 << 30)
    args = make_inputs(needle_len)
    native.native_match_blocks(*args)  # warm scratch + compile
    count = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        native.native_match_blocks(*args)
        count += 1
    dt = time.perf_counter() - t0
    return count / dt, dt / count * 1000.0  # calls/s, ms/call


def _worker(nt, needle_len, seconds, q):
    rate, _ = time_calls(nt, needle_len, seconds)
    q.put(rate)


def contention(nt: bool, workers: int, needle_len: int, seconds: float = 3.0):
    q = mp.Queue()
    procs = [
        mp.Process(target=_worker, args=(nt, needle_len, seconds, q))
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
        single = {}
        for needle_len in [200, 500, 1000, 2000]:
            cached = time_calls(False, needle_len)
            streamed = time_calls(True, needle_len)
            single[needle_len] = {
                "cached_ms": round(cached[1], 3),
                "nt_ms": round(streamed[1], 3),
                "nt_vs_cached": round(streamed[1] / cached[1], 3),
            }
        out["single_core"] = single
    if mode in ("contention", "both"):
        needle_len = 1000  # 9.6 MB matrix: exceeds a 16-core LLC share
        cont = {}
        for nt in (False, True):
            low = contention(nt, 4, needle_len)
            high = contention(nt, 16, needle_len)
            cont["nt" if nt else "cached"] = {
                "agg_4w": round(low, 1),
                "agg_16w": round(high, 1),
                "scaling_eff_4_to_16": round(high / low / 4.0, 3),
            }
        out["contention_needle1000"] = cont
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
