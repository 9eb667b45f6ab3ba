"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

The flagship row (``flagship_extract_align``) is the north-star job —
end-to-end HTML parse -> tokenize -> target extract -> Smith-Waterman align
-> BIO spans over every document; ``docs_per_sec`` reports its throughput.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from sciencebeam_trainer_grobid_tools_spark.plans.session import build_session  # noqa: E402

HEADLINE = [
    "flagship_extract_align",
    "align_exact_spans",
    "pricing_summary",
    "top_revenue_orders",
    "region_supplier_volume",
    "event_sessionization",
    "docs_exact_dedup",
    "docs_token_counts",
    "docs_minhash_near_dups",
    "docs_web_filters",
    "emb_cosine_topk",
]


def _cpu_times() -> list:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _steal_window(seconds: float = 5.0) -> tuple:
    """(steal%, idle%) over one sampling window — /proc/stat col 8/4.
    Hypervisor steal is the contention loadavg cannot see (the round-8
    forensics: 8.5% mean steal voided a whole round's comparisons)."""
    a = _cpu_times()
    time.sleep(seconds)
    b = _cpu_times()
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d) or 1
    return 100.0 * d[7] / tot, 100.0 * d[3] / tot


def _gate_quiet(
    max_load: float = 0.7, max_steal: float = 1.0, timeout: float = 600.0
) -> dict:
    """Wait for a quiet host: 1-min loadavg under ``max_load`` AND one
    5s steal window under ``max_steal``%.  Never blocks forever — on
    timeout the bench still runs, flagged ``gate_passed: false`` so a
    round-over-round comparison knows to distrust the numbers."""
    t0 = time.time()
    while True:
        load = os.getloadavg()[0]
        steal, _ = _steal_window()
        ok = load <= max_load and steal <= max_steal
        if ok or time.time() - t0 > timeout:
            return {
                "gate_passed": ok,
                "load": round(load, 2),
                "steal_pct": round(steal, 2),
                "waited_sec": round(time.time() - t0, 1),
                "max_load": max_load,
                "max_steal_pct": max_steal,
            }
        time.sleep(10)


class _StealMonitor(threading.Thread):
    """Continuous 5s-window steal sampler running through the timed
    section; ``stats()`` summarizes, splitting out 'active' windows
    (idle < 60% — the bench itself is running) where steal hurts most."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.samples: list = []
        # name must not shadow threading.Thread's internal _stop
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.samples.append(_steal_window())

    def stop(self) -> None:
        self._halt.set()

    def stats(self) -> dict:
        if not self.samples:
            return {}
        steals = [s for s, _ in self.samples]
        active = [s for s, i in self.samples if i < 60.0]
        return {
            "windows": len(self.samples),
            "steal_pct_mean": round(sum(steals) / len(steals), 2),
            "steal_pct_max": round(max(steals), 2),
            "active_windows": len(active),
            "steal_pct_active_mean": (
                round(sum(active) / len(active), 2) if active else None
            ),
        }


def scaling_record_paths(bench_dir: str) -> list:
    """The ``quiet_scaling_r<N>.json`` records in ``bench_dir``, newest round
    first.  Rounds compare as numbers: as strings, r10 would sort before r3."""
    if not os.path.isdir(bench_dir):
        return []
    rounds = []
    for name in os.listdir(bench_dir):
        match = re.fullmatch(r"quiet_scaling_r(\d+)\.json", name)
        if match:
            rounds.append((int(match.group(1)), name))
    return [os.path.join(bench_dir, name) for _, name in sorted(rounds, reverse=True)]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # loadavg+steal gate (disable with SPARK_GRAFT_BENCH_GATE=0): the
    # same discipline as scripts/scaling_bench.py, so per-query numbers
    # stop needing host-contention forensics round over round
    gate = None
    if os.environ.get("SPARK_GRAFT_BENCH_GATE", "1") != "0":
        gate = _gate_quiet()
    monitor = _StealMonitor()
    monitor.start()
    spark = build_session("bench", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # demo_queries holds the rows-only demos kept out of the driver's
    # 50-entry gate dict (docs_minhash_near_dups stays a headline: it is
    # the production xxhash64 near-dup path)
    queries = {**entry_mod.queries(), **entry_mod.demo_queries()}

    # Warm the JVM (codegen compile) and the python worker pool (fork +
    # package import) so timings measure the engine, not process startup —
    # on a long-lived cluster these costs amortize to zero.  The minhash
    # plan compiles a large generated aggregate (one-time Janino cost that
    # this VM's noisy neighbor can stretch to many seconds) — warm it too.
    queries["pricing_summary"](spark, sf_dir).collect()
    queries["flagship_extract_align"](spark, sf_dir).count()
    queries["docs_minhash_near_dups"](spark, sf_dir).count()

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    timings = {}
    samples = {}
    flagship_docs = 0
    flagship_sec = None
    for name in HEADLINE:
        fn = queries[name]
        rows = []
        times = []
        for _ in range(repeats):
            t0 = time.time()
            rows = fn(spark, sf_dir).collect()
            times.append(round(time.time() - t0, 3))
        best = min(times)
        timings[name] = best
        samples[name] = times
        if name == "flagship_extract_align":
            flagship_docs = len(rows)
            flagship_sec = best
    # ---- big flagship leg: move the headline out of the noise floor ----
    # Per-query sf0.1 timings are 0.2-1.5s where stage overhead dominates
    # (round-over-round deltas on this shared box are +-20% on identical
    # code).  A ~50k-doc flagship run is 8-12s of real kernel work, so its
    # docs/sec is a signal, not noise.  The corpus is generated once
    # (deterministic) and cached on disk; the timed runs only read parquet.
    big_docs_n = int(os.environ.get("SPARK_GRAFT_BENCH_BIG_DOCS", "50000"))
    big = None
    if big_docs_n > 0:
        from pyspark.sql import functions as F

        from sciencebeam_trainer_grobid_tools_spark.sources.corpus import (
            corpus_dataframe,
        )

        # cache key includes a generator-version token (hash of the corpus
        # module source): if the generator changes in a later round the
        # stale parquet is NOT silently reused — a silent reuse would
        # invalidate exactly the cross-round docs/sec comparison this leg
        # exists to make trustworthy
        import hashlib
        import inspect

        from sciencebeam_trainer_grobid_tools_spark.sources import corpus as corpus_mod

        gen_token = hashlib.md5(
            inspect.getsource(corpus_mod).encode("utf-8")
        ).hexdigest()[:8]
        corpus_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            ".bench",
            "flagship_corpus_%d_g%s" % (big_docs_n, gen_token),
        )
        if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
            corpus_dataframe(spark, big_docs_n, seed=42, partitions=64).write.mode(
                "overwrite"
            ).parquet(corpus_path)
        from sciencebeam_trainer_grobid_tools_spark.plans.pipeline import (
            annotate_documents,
        )

        big_docs = spark.read.parquet(corpus_path)
        big_times = []
        for _ in range(max(2, repeats - 1)):
            t0 = time.time()
            annotate_documents(big_docs, repartition=cpus * 4).agg(
                F.count(F.lit(1))
            ).collect()
            big_times.append(round(time.time() - t0, 3))
        big = {
            "docs": big_docs_n,
            "runs_sec": big_times,
            "wall_sec": min(big_times),
            "docs_per_sec": round(big_docs_n / min(big_times), 1),
        }

    monitor.stop()
    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline query wall-clock (extraction+alignment flagship + shell)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # all samples (min-of-N protocol, same as the scaling legs): lets a
        # reader separate a real regression from a one-shot noise spike
        "query_repeats": repeats,
        "query_samples": samples,
        "sf": sf,
        "cpus": cpus,
        "flagship_docs": flagship_docs,
        "docs_per_sec": round(flagship_docs / flagship_sec, 2) if flagship_sec else None,
    }
    if big is not None:
        result["big_flagship"] = big
    result["host_conditions"] = {
        "quiet_gate": gate,
        "steal_monitor": monitor.stats(),
    }
    # embed the committed loadavg-gated scaling + skew samples (scripts/
    # scaling_bench.py, scripts/skew_bench.py) so the round's BENCH json
    # records that evidence without re-measuring under unknown load
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    for scaling_path in scaling_record_paths(bench_dir):
        try:
            with open(scaling_path) as fh:
                result["scaling"] = json.load(fh)
        except (OSError, ValueError):
            continue
        break
    skew_path = os.path.join(bench_dir, "skew_r5.json")
    if os.path.exists(skew_path):
        try:
            with open(skew_path) as fh:
                result["skew"] = json.load(fh)
        except (OSError, ValueError):
            pass
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
