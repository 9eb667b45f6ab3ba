"""The in-process kernel workloads: ``kernel_annotate`` and ``kernel_extract_only``.

One thread runs ``annotate_document_row`` over the corpus in a closed loop,
one document after another, cycling through the corpus until the timed
section ends.  ``kernel_extract_only`` passes ``target_xml=None``: a web page
with no ground-truth document.  Times are normalised by the host's speed,
measured between documents with ``host.reference_ns``.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import subprocess
import sys
import time
from typing import Callable, Dict, List

from perfbench.checks import CheckFailed, check_digest, check_outputs, outputs_digest
from perfbench.corpus import corpus_dir, load_documents
from perfbench.eventlog import SPARK_METRICS
from perfbench.host import REFERENCE_NS, peak_rss_mb, reference_ns, reset_peak_rss
from perfbench.tracer import Tracer, layer_metrics

DEFAULT_DOCS = 400
SETUP_PROBES = 5
PROBE_TIMEOUT_S = 120


def _row_kwargs(doc: dict, with_targets: bool, mapping: str) -> dict:
    return dict(
        url=doc["url"],
        html=doc["html"],
        text=None,
        target_xml=doc["target_xml"] if with_targets else None,
        mapping_text=mapping,
        render_tei=True,
    )


def measure_setup(root: str, data_root: str, doc: dict, with_targets: bool) -> List[float]:
    """Set-up seconds of ``SETUP_PROBES`` fresh processes, after one
    discarded probe that builds the native kernel if needed."""
    warmup_path = os.path.join(data_root, "warmup-%d.json" % os.getpid())
    with open(warmup_path, "w", encoding="utf-8") as fh:
        json.dump(dict(doc, html=doc["html"].decode("utf-8"), warc_ts=None), fh)
    command = [sys.executable, "-m", "perfbench.probe", warmup_path, "1" if with_targets else "0"]
    samples = []
    try:
        for probe in range(SETUP_PROBES + 1):
            out = subprocess.run(
                command, cwd=root, check=True, capture_output=True, text=True,
                timeout=PROBE_TIMEOUT_S,
            ).stdout
            if probe:
                samples.append(json.loads(out.strip().splitlines()[-1])["setup_s"])
    finally:
        os.unlink(warmup_path)
    return samples


class Timed:
    """What one timed loop measured: ``doc_ns[p][i]`` is the time of
    document i in complete pass p, and ``ref_ns[p]`` the total time of the
    host-speed reference run after each document of pass p."""

    def __init__(self) -> None:
        self.doc_ns: List[List[int]] = []
        self.ref_ns: List[int] = []
        self.first_pass: List[dict] = []
        self.calls = 0
        self.errors = 0

    def _host_speed(self, p: int) -> float:
        """How much slower than nominal the host ran during pass p."""
        return self.ref_ns[p] / (len(self.doc_ns[p]) * REFERENCE_NS)

    @property
    def docs_per_s(self) -> float:
        """Corpus size over the median host-normalised pass time."""
        return len(self.doc_ns[0]) * 1e9 / statistics.median(
            sum(ns) / self._host_speed(p) for p, ns in enumerate(self.doc_ns))

    @property
    def wall_docs_per_s(self) -> float:
        """Corpus size over the median pass time on the wall clock."""
        return len(self.doc_ns[0]) * 1e9 / statistics.median(sum(ns) for ns in self.doc_ns)

    def doc_ms(self) -> List[float]:
        """Each document's median host-normalised time over the passes, in ms."""
        speeds = [self._host_speed(p) for p in range(len(self.doc_ns))]
        return [statistics.median(ns / speed for ns, speed in zip(times, speeds)) / 1e6
                for times in zip(*self.doc_ns)]


def timed_loop(docs: List[dict], seconds: float, call: Callable[[dict], dict]) -> Timed:
    """Closed loop over ``docs``, pass after pass, until ``seconds`` passed
    and at least one pass is complete; a pass cut by the deadline is not
    counted.  The host-speed reference runs after every document, outside
    the document's time."""
    timed = Timed()
    clock = time.perf_counter_ns
    gc.collect()
    deadline = clock() + int(seconds * 1e9)
    current: List[int] = []
    current_ref = 0
    while True:
        doc = docs[len(current)]
        t0 = clock()
        result = call(doc)
        t1 = clock()
        current.append(t1 - t0)
        current_ref += reference_ns()
        if not timed.doc_ns:
            timed.first_pass.append(result)
        timed.errors += result["error"] is not None
        timed.calls += 1
        if len(current) == len(docs):
            timed.doc_ns.append(current)
            timed.ref_ns.append(current_ref)
            current, current_ref = [], 0
        if t1 >= deadline and timed.doc_ns:
            return timed


def _check(workload: str, seed: int, n_docs: int, timed: Timed, with_targets: bool) -> str:
    check_outputs(timed.first_pass, with_targets, "kernel_invariants")
    digest = outputs_digest(timed.first_pass)
    check_digest(workload, seed, n_docs, digest)
    return digest


def run(workload: str, seed: int, seconds: float, trace: bool, n_docs: int, root: str,
        data_root: str) -> Dict[str, object]:
    with_targets = workload == "kernel_annotate"
    docs = load_documents(corpus_dir(data_root, seed, n_docs))
    setup = None if trace else measure_setup(root, data_root, docs[0], with_targets)

    from sciencebeam_trainer_grobid_tools_spark.plans.pipeline import annotate_document_row
    from sciencebeam_trainer_grobid_tools_spark.sources.corpus import DEFAULT_XML_MAPPING

    def call(doc: dict) -> dict:
        return annotate_document_row(**_row_kwargs(doc, with_targets, DEFAULT_XML_MAPPING))

    call(docs[0])
    if not trace:
        reset_peak_rss([os.getpid()])
        timed = timed_loop(docs, seconds, call)
        peak_mb = peak_rss_mb([os.getpid()])
        digest = _check(workload, seed, n_docs, timed, with_targets)
        ms = timed.doc_ms()
        return {
            "metrics": {
                "docs_per_s": (timed.docs_per_s, "docs/s"),
                "doc_ms_p50": (statistics.median(ms), "ms"),
                "doc_ms_p95": (statistics.quantiles(ms, n=20)[18], "ms"),
                "setup_s": (statistics.median(setup), "s"),
                "peak_rss_mb": (peak_mb, "MB"),
            },
            "attempted": timed.calls,
            "failed": timed.errors,
            "notes": {
                "doc_error_ratio": timed.errors / timed.calls,
                "passes": len(timed.doc_ns),
                "wall_docs_per_s": timed.wall_docs_per_s,
                "host_speed": [round(timed._host_speed(p), 4) for p in range(len(timed.doc_ns))],
                "setup_samples_s": setup,
                "digest": digest,
            },
        }

    plain = timed_loop(docs, seconds / 2, call)
    tracer = Tracer()
    uninstall = tracer.install()
    try:
        traced = timed_loop(
            docs, seconds / 2,
            lambda doc: tracer.document(
                doc["url"], annotate_document_row, **_row_kwargs(doc, with_targets, DEFAULT_XML_MAPPING)
            ),
        )
    finally:
        uninstall()
    os.makedirs(os.path.join(data_root, "traces"), exist_ok=True)
    tracer.write(os.path.join(data_root, "traces", workload + ".jsonl"))
    digest = _check(workload, seed, n_docs, plain, with_targets)
    if outputs_digest(traced.first_pass) != digest:
        raise CheckFailed("traced_digest_equals_untraced: %s" % workload)
    metrics = layer_metrics(tracer.aggregate())
    metrics["trace.overhead_ratio"] = (traced.docs_per_s / plain.docs_per_s, "ratio")
    metrics.update((name, (0.0, unit)) for name, unit in SPARK_METRICS)
    return {
        "metrics": metrics,
        "attempted": plain.calls + traced.calls,
        "failed": plain.errors + traced.errors,
        "notes": {"passes": [len(plain.doc_ns), len(traced.doc_ns)], "digest": digest},
    }
