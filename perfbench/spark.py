"""The ``spark_resume`` workload: the production CLI on a local Spark cluster.

``cli.annotate_corpus.main`` -> ``streaming.resume.run_resumable`` on
``local[k]``, k = min(4, usable CPUs), over a parquet corpus generated from
the seed, with ``--render-tei`` and a chunk size that gives ``CHUNKS``
chunks.  Every chunk after the first anti-joins against what the earlier
chunks wrote, so scan, resume anti-join, exchange, Arrow, Python worker,
append sink and manifest all run.

The figures are on the CPU clock.  On a shared host the wall time of a call
that keeps every core busy follows the hypervisor's steal and the other
tenants, which runs of the same code showed as a 2x spread.  A call's
session CPU time leaves out the time its threads waited for a CPU, and
dividing it by the host's speed on the same clock (``host.CpuClockSpeed``)
takes out how fast the CPU ran meanwhile.

Each Spark process is a child (``perfbench/spark_runner.py``) so that set-up
can be measured from a fresh interpreter, and so that the traced session
(event log on, tracing worker daemon) never shares a JVM with the untraced
one.  Every path the children write is under the benchmark's data directory.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from typing import Dict, List

from perfbench.checks import CheckFailed, check_digest
from perfbench.corpus import corpus_dir
from perfbench.eventlog import find_event_log, reduce_event_log
from perfbench.host import session_pids
from perfbench.tracer import layer_metrics

DEFAULT_DOCS = 300
CHUNKS = 3
# set-up is the median of SETUP_PROBES fresh processes plus the timed one
SETUP_PROBES = 1
SAMPLE_DOCS = 20
# A timed section is a fixed number of calls: about ``--seconds`` of calls
# at NOMINAL_CALL_S each.  The JVM's CPU time per call still falls over the
# first calls after the warm-up call, so a count that followed the host's
# speed would move the figures with it.
NOMINAL_CALL_S = 5.0
CHILD_TIMEOUT_S = 150
# how long a child's JVM may take to clean up after the child exits
SESSION_EXIT_S = 20


def _cpus() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def _child_env(data_root: str, traced_dir: str = "") -> Dict[str, str]:
    tmp = os.path.join(data_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(data_root, "warehouse"),
    }
    if traced_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + os.path.join(traced_dir, "events"),
            "spark.eventLog.compress": "false",
            "spark.python.daemon.module": "perfbench.spark_daemon",
        })
    submit = []
    for key, value in conf.items():
        submit += ["--conf", "%s=%s" % (key, value)]
    env = dict(os.environ)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env.update({
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit + ["pyspark-shell"]),
        "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(data_root, "spark-local"),
        "SPARK_DRIVER_MEMORY": "2g",
        # every JVM of the child (launcher and driver) keeps its temp files
        # in the data directory and writes no /tmp/hsperfdata_* file
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir=" + tmp,
    })
    if traced_dir:
        env["PERFBENCH_TRACE_DIR"] = os.path.join(traced_dir, "workers")
    return env


def _spawn(name: str, config: dict, root: str, data_root: str, traced_dir: str = "") -> dict:
    """Run one ``spark_runner`` child to completion and return its result."""
    run_dir = os.path.join(data_root, "spark")
    os.makedirs(run_dir, exist_ok=True)
    config = dict(config, result_path=os.path.join(run_dir, name + ".result.json"),
                  work_dir=os.path.join(run_dir, name + ".work"))
    if os.path.exists(config["result_path"]):
        os.unlink(config["result_path"])
    # a run cut short leaves output behind, which the next call would resume
    _clear(config["work_dir"])
    if traced_dir:
        config["trace_dir"] = os.path.join(traced_dir, "workers")
        os.makedirs(config["trace_dir"], exist_ok=True)
        os.makedirs(os.path.join(traced_dir, "events"), exist_ok=True)
    config_path = os.path.join(run_dir, name + ".config.json")
    with open(config_path, "w", encoding="utf-8") as fh:
        json.dump(config, fh)
    log_path = os.path.join(run_dir, name + ".log")
    with open(log_path, "w", encoding="utf-8") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.spark_runner", config_path],
            cwd=root, env=_child_env(data_root, traced_dir), stdin=subprocess.DEVNULL,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        finally:
            _stop_session(proc)
    if code != 0 or not os.path.exists(config["result_path"]):
        with open(log_path, encoding="utf-8", errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError("spark child %s exited %s:\n%s" % (name, code, tail))
    with open(config["result_path"], encoding="utf-8") as fh:
        return json.load(fh)


def _stop_session(proc: subprocess.Popen) -> None:
    """Wait for the child's session (its JVM, and the Python daemon and
    workers, which run in a process group of their own) to finish shutting
    down, killing what is left if that takes too long."""
    if proc.poll() is None:
        proc.kill()
        proc.wait()
    for kill in (True, False):
        deadline = time.monotonic() + SESSION_EXIT_S
        while session_pids(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not kill:
            break
        for pid in session_pids(proc.pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    if session_pids(proc.pid):
        raise RuntimeError("spark child %d left processes behind" % proc.pid)


def _calls(seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_CALL_S))


def _cpu_pass_s(call: dict, cpus: int) -> float:
    """The call's host-normalised CPU pass time: the session's CPU seconds
    spread over the ``cpus`` cores, over the host's speed on the CPU clock
    during the call.  That is the call's wall time had every core been busy
    with the program all along, at the reference's nominal speed."""
    return call["cpu_s"] / cpus / call["host_speed"]


def docs_per_s(calls: List[dict], cpus: int) -> float:
    """Documents of the timed section over its host-normalised CPU time."""
    return sum(c["rows"] for c in calls) / sum(_cpu_pass_s(c, cpus) for c in calls)


def commit_ms(calls: List[dict], cpus: int) -> List[float]:
    """Each document's commit latency, from the start of the call to the
    manifest line of its chunk, on the clock of ``_cpu_pass_s``: the
    session's CPU seconds up to that line, spread over the cores, over the
    host's speed.  The mean over the calls, in ms."""
    per_call = []
    for call in calls:
        latencies: List[float] = []
        for rows, cpu_s in zip(call["chunk_rows"], call["chunk_end_cpu_s"]):
            latencies += [cpu_s / cpus / call["host_speed"] * 1000.0] * rows
        per_call.append(latencies)
    return [statistics.fmean(column) for column in zip(*per_call)]


def _chunk_seconds(calls: List[dict]) -> List[float]:
    """Wall seconds of every chunk of every call, up to its manifest line."""
    seconds = []
    for call in calls:
        ends = call["chunk_end_s"]
        seconds += [b - a for a, b in zip([0.0] + ends, ends)]
    return seconds


def run(seed: int, seconds: float, trace: bool, n_docs: int, root: str, data_root: str) -> Dict[str, object]:
    for scratch in ("tmp", "spark-local"):
        _clear(os.path.join(data_root, scratch))
    cpus = _cpus()
    config = {
        "cpus": cpus,
        "corpus": corpus_dir(data_root, seed, n_docs),
        "chunk_size": -(-n_docs // CHUNKS),
        "warmup_corpus": corpus_dir(data_root, seed, 4 * cpus),
        "warmup_chunk_size": 4 * cpus,
        "sample_docs": SAMPLE_DOCS,
    }
    workload = "spark_resume"
    if not trace:
        setups = [
            _spawn("setup-%d" % i, dict(config, mode="setup"), root, data_root)["setup_s"]
            for i in range(SETUP_PROBES)
        ]
        timed = _spawn("timed", dict(config, mode="timed", calls=_calls(seconds)), root, data_root)
        _raise_failed(timed)
        setups.append(timed["setup_s"])
        check_digest(workload, seed, n_docs, timed["digest"])
        calls = timed["calls"]
        latencies = commit_ms(calls, cpus)
        attempted = sum(c["rows"] for c in calls)
        return {
            "metrics": {
                "docs_per_s": (docs_per_s(calls, cpus), "docs/s"),
                "doc_ms_p50": (statistics.median(latencies), "ms"),
                "doc_ms_p95": (statistics.quantiles(latencies, n=20)[18], "ms"),
                "setup_s": (statistics.median(setups), "s"),
                "peak_rss_mb": (timed["peak_rss_mb"], "MB"),
            },
            "attempted": attempted,
            "failed": timed["errors"],
            "notes": {
                "doc_error_ratio": timed["errors"] / attempted,
                "warm_call_s": timed["warm_call_s"],
                "wall_docs_per_s": attempted / sum(c["wall_s"] for c in calls),
                "calls_s": [c["wall_s"] for c in calls],
                "calls_cpu_s": [c["cpu_s"] for c in calls],
                "calls_host_speed": [c["host_speed"] for c in calls],
                "calls_steal_pct": [c["steal_pct"] for c in calls],
                "calls_chunk_end_cpu_s": [c["chunk_end_cpu_s"] for c in calls],
                "java_mb": timed["java_mb"],
                "setup_samples_s": setups,
                "digest": timed["digest"],
            },
        }

    plain = _spawn("plain", dict(config, mode="timed", calls=_calls(seconds / 2)), root, data_root)
    _raise_failed(plain)
    traced_dir = os.path.join(data_root, "spark", "traced")
    _clear(traced_dir)
    traced = _spawn("traced", dict(config, mode="timed", calls=_calls(seconds / 2)), root, data_root,
                    traced_dir=traced_dir)
    _raise_failed(traced)
    check_digest(workload, seed, n_docs, plain["digest"])
    if traced["digest"] != plain["digest"]:
        raise CheckFailed("traced_digest_equals_untraced: %s" % workload)
    metrics = layer_metrics(traced["worker_totals"])
    metrics["trace.overhead_ratio"] = (docs_per_s(traced["calls"], cpus) / docs_per_s(plain["calls"], cpus),
                                       "ratio")
    metrics.update(
        reduce_event_log(
            find_event_log(os.path.join(traced_dir, "events")),
            [c["window_ms"] for c in traced["calls"]],
            corpus_path=config["corpus"],
            sink_root=os.path.join(data_root, "spark"),
            chunk_s=_chunk_seconds(traced["calls"]),
        )
    )
    return {
        "metrics": metrics,
        "attempted": sum(c["rows"] for c in plain["calls"] + traced["calls"]),
        "failed": plain["errors"] + traced["errors"],
        "notes": {"digest": plain["digest"]},
    }


def _raise_failed(result: dict) -> None:
    if "check_failed" in result:
        raise CheckFailed(result["check_failed"])


def _clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
