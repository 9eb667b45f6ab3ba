"""Reduce a Spark event log to the ``spark.*`` and ``resume.*`` layer metrics.

Standard library only.  The log is the benchmark session's own
(``spark.eventLog.enabled``), read after the session stopped.  Totals are
taken over the jobs submitted inside the timed calls of
``annotate_corpus.main`` and reported per call (one pass over the corpus).

Jobs are tagged by chunk of ``run_resumable``: a chunk is the run of jobs up
to and including the jobs of one SQL execution that writes the sink
(``InsertIntoHadoopFsRelationCommand``); every other job (schema listing,
``isEmpty`` termination probe over the resume anti-join) is a probe job.
The jobs after the last write are the final, empty probe.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from typing import Dict, List, Sequence, Tuple

WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"
PYTHON_SENT = "data sent to Python workers"
PYTHON_RECEIVED = "data returned from Python workers"

SPARK_METRICS = (
    ("spark.scan_bytes", "bytes"),
    ("resume.completed_rows_read", "count"),
    ("spark.exchange_bytes", "bytes"),
    ("spark.python_bytes_sent", "bytes"),
    ("spark.python_bytes_received", "bytes"),
    ("spark.python_stage_task_s", "s"),
    ("spark.python_stage_cpu_ratio", "ratio"),
    ("spark.task_s_max_over_median", "ratio"),
    ("spark.sink_bytes", "bytes"),
    ("spark.sink_files", "count"),
    ("spark.spill_bytes", "bytes"),
    ("spark.gc_s", "s"),
    ("resume.jobs_per_chunk", "count"),
    ("resume.probe_jobs_per_chunk", "count"),
    ("resume.write_jobs_per_chunk", "count"),
    ("resume.chunk_s", "s"),
)


def find_event_log(event_dir: str) -> str:
    """The single application's log file (rolling v2 layout or a plain file)."""
    found = glob.glob(os.path.join(event_dir, "eventlog_v2_*", "events_*")) or [
        p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)
    ]
    if len(found) != 1:
        raise ValueError("expected one event log under %s, found %r" % (event_dir, found))
    return found[0]


def _walk_plan(node: dict, on_node) -> None:
    on_node(node)
    for child in node.get("children", ()):
        _walk_plan(child, on_node)


class _Log:
    def __init__(self, path: str) -> None:
        # accumulator id -> (metric name, plan node name, scan location)
        self.accumulators: Dict[int, Tuple[str, str, str]] = {}
        self.write_executions = set()
        self.execution_ms: Dict[int, int] = {}
        self.jobs: List[dict] = []
        self.stage_job: Dict[int, int] = {}
        self.tasks: List[dict] = []
        self.driver_updates: List[Tuple[int, int, int]] = []  # (execution, acc id, value)
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                self._event(json.loads(line))

    def _plan(self, execution_id: int, plan: dict) -> None:
        def on_node(node: dict) -> None:
            location = node.get("metadata", {}).get("Location", "")
            if node["nodeName"].startswith(WRITE_NODE):
                self.write_executions.add(execution_id)
            for metric in node.get("metrics", ()):
                self.accumulators[metric["accumulatorId"]] = (
                    metric["name"], node["nodeName"], location
                )

        _walk_plan(plan, on_node)

    def _event(self, event: dict) -> None:
        kind = event["Event"]
        if kind.endswith("SQLExecutionStart"):
            self.execution_ms[event["executionId"]] = event["time"]
            self._plan(event["executionId"], event["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(event["executionId"], event["sparkPlanInfo"])
        elif kind.endswith("DriverAccumUpdates"):
            for acc_id, value in event["accumUpdates"]:
                self.driver_updates.append((event["executionId"], acc_id, int(value)))
        elif kind == "SparkListenerJobStart":
            execution = event.get("Properties", {}).get("spark.sql.execution.id")
            self.jobs.append(
                {
                    "id": event["Job ID"],
                    "submit_ms": event["Submission Time"],
                    "execution": int(execution) if execution is not None else None,
                }
            )
            for stage in event["Stage IDs"]:
                self.stage_job[stage] = event["Job ID"]
        elif kind == "SparkListenerTaskEnd" and event.get("Task Metrics"):
            self.tasks.append(event)


def reduce_event_log(
    path: str,
    windows_ms: Sequence[Tuple[int, int]],
    corpus_path: str,
    sink_root: str,
    chunk_s: Sequence[float],
) -> Dict[str, Tuple[float, str]]:
    """``windows_ms``: (start, end) epoch ms of each timed call; jobs
    submitted inside them are counted.  ``corpus_path``/``sink_root`` tell
    corpus scans from reads of the sink by the resume anti-join."""
    log = _Log(path)
    calls = max(1, len(windows_ms))

    def in_window(ms: int) -> bool:
        return any(start <= ms <= end for start, end in windows_ms)

    jobs = sorted((j for j in log.jobs if in_window(j["submit_ms"])), key=lambda j: j["submit_ms"])
    job_ids = {j["id"] for j in jobs}
    executions = {e for e, ms in log.execution_ms.items() if in_window(ms)}

    acc_totals: Dict[int, int] = defaultdict(int)
    for execution, acc_id, value in log.driver_updates:
        if execution in executions:
            acc_totals[acc_id] += value
    stage_run_ms: Dict[int, List[int]] = defaultdict(list)
    stage_cpu_ns: Dict[int, int] = defaultdict(int)
    python_stages = set()
    totals: Dict[str, float] = defaultdict(float)
    for task in log.tasks:
        stage = task["Stage ID"]
        if log.stage_job.get(stage) not in job_ids:
            continue
        metrics = task["Task Metrics"]
        stage_run_ms[stage].append(metrics["Executor Run Time"])
        stage_cpu_ns[stage] += metrics["Executor CPU Time"]
        totals["exchange"] += metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        totals["sink"] += metrics["Output Metrics"]["Bytes Written"]
        totals["spill"] += metrics["Disk Bytes Spilled"]
        totals["gc_ms"] += metrics["JVM GC Time"]
        for acc in task["Task Info"].get("Accumulables", ()):
            if acc.get("Metadata") != "sql":
                continue
            acc_totals[acc["ID"]] += int(acc["Update"])
            if acc.get("Name") == PYTHON_SENT:
                python_stages.add(stage)

    def acc_sum(name: str, node_prefix: str = "", location: str = "") -> float:
        return float(
            sum(
                value
                for acc_id, value in acc_totals.items()
                if acc_id in log.accumulators
                and log.accumulators[acc_id][0] == name
                and log.accumulators[acc_id][1].startswith(node_prefix)
                and location in log.accumulators[acc_id][2]
            )
        )

    python_run_ms = sum(sum(stage_run_ms[s]) for s in python_stages)
    python_cpu_ns = sum(stage_cpu_ns[s] for s in python_stages)
    stragglers = [
        max(stage_run_ms[s]) / statistics.median(stage_run_ms[s])
        for s in python_stages
        if len(stage_run_ms[s]) > 1 and statistics.median(stage_run_ms[s]) > 0
    ]

    write_jobs = probe_jobs = 0
    chunks = 0
    previous_write = False
    for job in jobs:
        is_write = job["execution"] in log.write_executions
        if is_write:
            write_jobs += 1
        else:
            probe_jobs += 1
        if previous_write and not is_write:
            chunks += 1
        previous_write = is_write
    chunks = max(1, chunks + previous_write)

    return {
        "spark.scan_bytes": (acc_sum("size of files read", "Scan", corpus_path) / calls, "bytes"),
        "resume.completed_rows_read": (
            acc_sum("number of output rows", "Scan", sink_root) / calls, "count"
        ),
        "spark.exchange_bytes": (totals["exchange"] / calls, "bytes"),
        "spark.python_bytes_sent": (acc_sum(PYTHON_SENT) / calls, "bytes"),
        "spark.python_bytes_received": (acc_sum(PYTHON_RECEIVED) / calls, "bytes"),
        "spark.python_stage_task_s": (python_run_ms / 1000.0 / calls, "s"),
        "spark.python_stage_cpu_ratio": (
            python_cpu_ns / (python_run_ms * 1e6) if python_run_ms else 0.0, "ratio"
        ),
        "spark.task_s_max_over_median": (
            statistics.median(stragglers) if stragglers else 0.0, "ratio"
        ),
        "spark.sink_bytes": (totals["sink"] / calls, "bytes"),
        "spark.sink_files": (acc_sum("number of written files", WRITE_NODE) / calls, "count"),
        "spark.spill_bytes": (totals["spill"] / calls, "bytes"),
        "spark.gc_s": (totals["gc_ms"] / 1000.0 / calls, "s"),
        "resume.jobs_per_chunk": ((write_jobs + probe_jobs) / chunks, "count"),
        "resume.probe_jobs_per_chunk": (probe_jobs / chunks, "count"),
        "resume.write_jobs_per_chunk": (write_jobs / chunks, "count"),
        "resume.chunk_s": (statistics.median(chunk_s) if chunk_s else 0.0, "s"),
    }
