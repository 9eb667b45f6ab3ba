"""One Spark process of the ``spark_resume`` workload.

``python -m perfbench.spark_runner <config.json>`` from the repository root.
The process times its own set-up (package import, SparkSession start, and a
warm-up call of the production CLI on a small corpus, which starts and warms
the Python workers).  With ``mode == "setup"`` it stops there; otherwise it
calls ``cli.annotate_corpus.main`` (``run_resumable`` underneath) over the
benchmark corpus ``calls`` times, each call into a fresh output directory,
then checks what the calls wrote.  ``WARM_CALLS`` untimed calls come first,
between set-up and the timed section.  Each timed call records its wall
time, the CPU time of the whole session (JVM, Python daemon and workers,
and this process) and the host's speed on the CPU clock meanwhile.  The
result is written as JSON to ``config["result_path"]``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from typing import Dict, List

WARM_CALLS = 1


def _cli_args(corpus: str, output: str, chunk_size: int, cpus: int) -> List[str]:
    return [
        "--input-path", corpus,
        "--output-path", output,
        "--chunk-size", str(chunk_size),
        "--render-tei",
        "--spark-cpus", str(cpus),
    ]


def _read_manifest(output: str) -> List[dict]:
    with open(os.path.join(output, "manifest.jsonl"), encoding="utf-8") as fh:
        return [json.loads(line) for line in fh]


def _read_sink(output: str) -> List[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(output, "annotated")).to_pylist()


def _verify(config: dict, outputs: List[str]) -> Dict[str, object]:
    """Read back every call's sink and compare it with the corpus and with
    in-process ``annotate_document_row`` on a deterministic url sample."""
    from perfbench.checks import CheckFailed, check_outputs, outputs_digest
    from perfbench.corpus import load_documents
    from sciencebeam_trainer_grobid_tools_spark.plans.pipeline import (
        ANNOTATED_COLUMNS,
        annotate_document_row,
    )
    from sciencebeam_trainer_grobid_tools_spark.sources.corpus import DEFAULT_XML_MAPPING

    docs = load_documents(config["corpus"])
    urls = sorted(d["url"] for d in docs)
    digests = []
    errors = 0
    for call, output in enumerate(outputs):
        rows = _read_sink(output)
        if sorted(r["url"] for r in rows) != urls:
            raise CheckFailed("sink_urls_equal_corpus: call %d wrote %d rows for %d documents"
                              % (call, len(rows), len(urls)))
        digests.append(outputs_digest(rows))
        errors += sum(r["error"] is not None for r in rows)
        if call == 0:
            check_outputs(rows, with_targets=True, label="sink_invariants")
            by_url = {r["url"]: r for r in rows}
    if len(set(digests)) != 1:
        raise CheckFailed("sink_digest_same_every_call: %r" % digests)
    step = max(1, len(docs) // config["sample_docs"])
    for doc in docs[::step]:
        expected = annotate_document_row(
            url=doc["url"], html=doc["html"], text=None, target_xml=doc["target_xml"],
            mapping_text=DEFAULT_XML_MAPPING, render_tei=True,
        )
        expected["lang"] = doc["lang"]
        got = by_url[doc["url"]]
        for column in ANNOTATED_COLUMNS:
            if got[column] != expected[column]:
                raise CheckFailed("sink_equals_in_process: %s differs for %s"
                                  % (column, doc["url"]))
    return {"digest": digests[0], "errors": errors}


def main(config_path: str) -> None:
    with open(config_path, encoding="utf-8") as fh:
        config = json.load(fh)
    start = time.perf_counter()
    from sciencebeam_trainer_grobid_tools_spark.cli import annotate_corpus
    from sciencebeam_trainer_grobid_tools_spark.plans.session import build_session

    spark = build_session("perfbench", cpus=config["cpus"])
    warmup = os.path.join(config["work_dir"], "warmup")
    annotate_corpus.main(
        _cli_args(config["warmup_corpus"], warmup, config["warmup_chunk_size"], config["cpus"])
    )
    result: Dict[str, object] = {"setup_s": time.perf_counter() - start}
    shutil.rmtree(warmup, ignore_errors=True)
    try:
        if config["mode"] == "timed":
            result.update(_timed(config, annotate_corpus))
    finally:
        spark.stop()
    with open(config["result_path"], "w", encoding="utf-8") as fh:
        json.dump(result, fh)


def _timed(config: dict, annotate_corpus) -> Dict[str, object]:
    from perfbench.checks import CheckFailed
    from perfbench.host import (
        CpuClockSpeed,
        HostWindow,
        cpu_seconds,
        descendant_pids,
        peak_rss_mb,
        reset_peak_rss,
    )

    def session_cpu_s() -> float:
        # every process stays up between calls; a worker that exits is
        # reaped inside the session, so its time moves to its parent
        return sum(cpu_seconds(descendant_pids(os.getpid())).values())

    # untimed calls over the corpus first: the JVM keeps compiling the
    # per-chunk paths through the first few full-size calls, which ran
    # 10-25% slower than the calls after them
    warm_s = []
    for _ in range(WARM_CALLS):
        warm = os.path.join(config["work_dir"], "call-warm")
        start = time.perf_counter()
        annotate_corpus.main(_cli_args(config["corpus"], warm, config["chunk_size"], config["cpus"]))
        warm_s.append(time.perf_counter() - start)
        shutil.rmtree(warm, ignore_errors=True)
    trace_dir = config.get("trace_dir")
    baseline = _worker_totals(trace_dir) if trace_dir else None
    reset_peak_rss(descendant_pids(os.getpid()))
    calls, outputs = [], []
    for _ in range(config["calls"]):
        output = os.path.join(config["work_dir"], "call-%d" % len(calls))
        host = HostWindow()
        watch = _ManifestWatch(os.path.join(output, "manifest.jsonl"), session_cpu_s)
        with CpuClockSpeed(watch.tick) as speed:
            start_epoch, start = time.time(), time.perf_counter()
            counters = annotate_corpus.main(
                _cli_args(config["corpus"], output, config["chunk_size"], config["cpus"])
            )
            end = time.perf_counter()
        cpu_s = session_cpu_s() - watch.cpu_start
        manifest = _read_manifest(output)
        calls.append(
            {
                "wall_s": end - start,
                "cpu_s": cpu_s,
                "host_speed": speed.value,
                "steal_pct": host.close()["steal_pct"],
                "rows": counters["rows"],
                "window_ms": [int(start_epoch * 1000), int(time.time() * 1000)],
                "chunk_rows": [m["rows"] for m in manifest],
                "chunk_end_s": [m["ts"] - start_epoch for m in manifest],
                "chunk_end_cpu_s": watch.chunk_end_cpu_s(len(manifest), cpu_s),
            }
        )
        outputs.append(output)
    pids = descendant_pids(os.getpid())
    java = [p for p in pids if _comm(p) == "java"]
    result: Dict[str, object] = {
        "warm_call_s": warm_s,
        "calls": calls,
        "peak_rss_mb": peak_rss_mb(p for p in pids if p not in java),
        "java_mb": peak_rss_mb(java),
    }
    if trace_dir:
        result["worker_totals"] = _worker_totals(trace_dir, baseline)
    try:
        result.update(_verify(config, outputs))
    except CheckFailed as exc:
        result["check_failed"] = str(exc)
    for output in outputs:
        shutil.rmtree(output, ignore_errors=True)
    return result


class _ManifestWatch:
    """Session CPU seconds at each line the call appends to its manifest,
    seen within one ``CpuClockSpeed`` period of the write."""

    def __init__(self, path: str, session_cpu_s) -> None:
        self._path = path
        self._session_cpu_s = session_cpu_s
        self._size = 0
        self._ends: List[float] = []
        self.cpu_start = session_cpu_s()

    def tick(self) -> None:
        try:
            size = os.path.getsize(self._path)
        except OSError:
            return
        if size > self._size:
            self._size = size
            with open(self._path, "rb") as fh:
                lines = fh.read().count(b"\n")
            cpu = self._session_cpu_s() - self.cpu_start
            self._ends += [cpu] * (lines - len(self._ends))

    def chunk_end_cpu_s(self, lines: int, cpu_s: float) -> List[float]:
        """The seen ends of the first ``lines`` lines; a line written after
        the last look ends at the call's end."""
        return (self._ends + [cpu_s] * lines)[:lines]


def _comm(pid):
    try:
        with open("/proc/%d/comm" % pid) as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _worker_totals(trace_dir: str, baseline: Dict[str, float] = None) -> Dict[str, float]:
    """Sum of the workers' running totals, minus ``baseline``."""
    from perfbench.tracer import merge

    totals: Dict[str, float] = {}
    for name in sorted(os.listdir(trace_dir)):
        if name.startswith("worker-") and name.endswith(".json"):
            with open(os.path.join(trace_dir, name), encoding="utf-8") as fh:
                merge(totals, json.load(fh))
    if baseline:
        merge(totals, baseline, sign=-1)
    return totals


if __name__ == "__main__":
    main(sys.argv[1])
