"""Spark Python-worker daemon that traces the kernel inside the workers.

Selected for the traced ``spark_resume`` session with
``spark.python.daemon.module=perfbench.spark_daemon``.  It installs the
tracer (see ``tracer.py``) and wraps ``pipeline.annotate_document_row`` — the
name the ``mapInPandas`` closure resolves per document — before pyspark's own
daemon forks the workers, so every worker inherits the wrappers.

Workers are killed rather than shut down when the session stops, so each
worker rewrites its running totals to ``$PERFBENCH_TRACE_DIR/worker-<pid>.json``
after every document instead of at exit.
"""

from __future__ import annotations

import json
import os
from typing import Dict

from perfbench.tracer import Tracer, merge


def install(trace_dir: str) -> None:
    from sciencebeam_trainer_grobid_tools_spark.plans import pipeline

    tracer = Tracer()
    tracer.install()
    original = pipeline.annotate_document_row
    span_totals: Dict[str, float] = {}

    def traced_row(*args, **kwargs):
        result = tracer.document(kwargs.get("url"), original, *args, **kwargs)
        merge(span_totals, tracer.span_totals())
        del tracer.spans[:]
        snapshot = dict(span_totals)
        snapshot.update(tracer.counts)
        path = os.path.join(trace_dir, "worker-%d.json" % os.getpid())
        with open(path + ".tmp", "w", encoding="utf-8") as fh:
            json.dump(snapshot, fh)
        os.replace(path + ".tmp", path)
        return result

    pipeline.annotate_document_row = traced_row


if __name__ == "__main__":
    install(os.environ["PERFBENCH_TRACE_DIR"])
    from pyspark import daemon

    daemon.manager()
