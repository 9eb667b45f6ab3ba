"""The benchmark's own tests: ``python3 -m pytest perfbench/tests -q`` from
the repository root.  Runs use tiny corpora and timed sections; the Spark
ones start local Spark sessions and take about two minutes in all."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import run as run_mod
from perfbench.tracer import Tracer

ROOT = run_mod.ROOT

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


def _bench(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=ROOT, capture_output=True,
        text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _declared(trace: int) -> dict:
    return {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}


TINY = {
    "kernel_annotate": ["--docs", "40", "--seconds", "0.2"],
    "kernel_extract_only": ["--docs", "40", "--seconds", "0.2"],
    "spark_resume": ["--docs", "16", "--seconds", "0.1"],
}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_named_metric_prints_with_its_unit(workload, trace):
    result = _result(_bench("--workload", workload, "--seed", "7", "--trace", str(trace),
                            *TINY[workload]))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert {n: m["unit"] for n, m in result["metrics"].items()} == _declared(trace)
    for name, metric in result["metrics"].items():
        assert isinstance(metric["value"], (int, float)), name
    if trace == 0:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_extract_only_bypasses_targets_and_alignment():
    metrics = _result(_bench("--workload", "kernel_extract_only", "--seed", "7", "--trace", "1",
                             *TINY["kernel_extract_only"]))["metrics"]
    assert metrics["align.sw_calls"]["value"] == 0
    assert metrics["targets.count"]["value"] == 0
    assert metrics["tei_render.render_us"]["value"] > 0


def test_annotate_matcher_has_the_largest_self_time_share():
    metrics = _result(_bench("--workload", "kernel_annotate", "--seed", "7", "--trace", "1",
                             *TINY["kernel_annotate"]))["metrics"]
    value = {n: m["value"] for n, m in metrics.items()}
    matcher = value["annotate.match_self_us"] + value["fuzzy.search_self_us"] + \
        value["align.sw_us"] + value["align.word_us"]
    for layer in ("extract.html_to_lines_us", "doc.tokenize_lines_us",
                  "targets.xml_to_targets_us", "annotate.spans_us",
                  "checks.check_document_us", "tei_render.render_us"):
        assert matcher > value[layer], layer
    assert value["align.sw_calls"] > 0


def _corrupting(monkeypatch, corrupt):
    """Patch the kernel so that the third document's output is corrupted."""
    from sciencebeam_trainer_grobid_tools_spark.plans import pipeline

    original = pipeline.annotate_document_row
    seen = []

    def annotate_document_row(**kwargs):
        result = original(**kwargs)
        seen.append(kwargs["url"])
        if len(seen) == 3:
            corrupt(result)
        return result

    monkeypatch.setattr(pipeline, "annotate_document_row", annotate_document_row)


def _break_tei(result):
    result["tei_xml"] = result["tei_xml"][:-3]


def _flip_passed(result):
    result["passed"] = not result["passed"]


@pytest.mark.parametrize(
    "corrupt, docs, check",
    [
        (_break_tei, "40", "tei_xml_well_formed"),
        # a well-formed but different output: only the committed digest of
        # the default corpus catches it
        (_flip_passed, None, "expected_digest"),
    ],
)
def test_corrupted_output_fails_the_run(monkeypatch, capsys, corrupt, docs, check):
    _corrupting(monkeypatch, corrupt)
    argv = ["--workload", "kernel_annotate", "--seed", "42", "--seconds", "0.1"]
    if docs:
        argv += ["--docs", docs]
    assert run_mod.main(argv) == 1
    out, err = capsys.readouterr()
    assert check in err
    assert json.loads(out.strip().splitlines()[-1])["correct"] is False


def test_self_time_subtracts_direct_children():
    tracer = Tracer()
    tracer.spans.extend([
        ("doc", 0, 100, -1, "u"),
        ("match", 10, 60, 0, "u"),
        ("sw", 20, 30, 1, "u"),
        ("sw", 40, 45, 1, "u"),
        ("render_tei", 70, 90, 0, "u"),
    ])
    totals = tracer.span_totals()
    assert totals["doc.self_ns"] == 100 - 50 - 20
    assert totals["match.self_ns"] == 50 - 15
    assert totals["sw.self_ns"] == 15
    assert totals["render_tei.total_ns"] == 20


def test_host_speed_is_divided_out_of_kernel_times():
    from perfbench.host import REFERENCE_NS
    from perfbench.kernel import Timed

    timed = Timed()
    # the second pass ran on a host at half speed: every time doubled
    timed.doc_ns = [[1000, 3000], [2000, 6000]]
    timed.ref_ns = [2 * REFERENCE_NS, 4 * REFERENCE_NS]
    assert timed.docs_per_s == pytest.approx(2 * 1e9 / 4000)
    assert timed.wall_docs_per_s == pytest.approx(2 * 1e9 / 6000)
    assert timed.doc_ms() == pytest.approx([1000 / 1e6, 3000 / 1e6])


def test_spark_figures_are_cpu_seconds_over_host_speed():
    from perfbench.spark import commit_ms, docs_per_s

    def call(cpu_s, speed, chunk_end_cpu_s, wall_s):
        return {"rows": 4, "cpu_s": cpu_s, "host_speed": speed, "wall_s": wall_s,
                "chunk_rows": [2, 2], "chunk_end_cpu_s": chunk_end_cpu_s}

    # the same work on two cores; the second call ran on a host at half
    # speed and, with steal, took three times the wall time
    calls = [call(8.0, 1.0, [4.0, 8.0], 5.0), call(16.0, 2.0, [8.0, 16.0], 15.0)]
    assert docs_per_s(calls, cpus=2) == pytest.approx(8 / 8.0)
    assert commit_ms(calls, cpus=2) == pytest.approx([2000.0, 2000.0, 4000.0, 4000.0])
