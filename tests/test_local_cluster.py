"""Multi-JVM execution parity (the north_rule's cluster shape).

Runs the flagship kernel on a REAL ``local-cluster`` master — a standalone
master, separate worker + CoarseGrainedExecutorBackend JVM processes, Spark's
cross-JVM scheduler/shuffle — with the package shipped to executors as the
``--py-files`` zip (scripts/build_pyfiles_zip.py), the spark-submit
deployment shape.  Results must be byte-identical to the in-process kernel:
proves serialization, zip deployment, and cross-JVM shuffle don't perturb
the extraction/alignment output.  (Scaling throughput on this topology is
measured separately: scripts/scaling_bench.py <record.json>.)
"""

import os
import sys

import pytest
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from sciencebeam_trainer_grobid_tools_spark.plans.pipeline import (
    annotate_document_row,
    annotate_documents,
)
from sciencebeam_trainer_grobid_tools_spark.sources.corpus import (
    DEFAULT_XML_MAPPING,
    corpus_dataframe,
)

N_DOCS = 24


@pytest.fixture(scope="module")
def cluster_spark():
    # defensive: getOrCreate would silently reuse a leftover local-mode
    # session from another module and this test would not exercise
    # multi-JVM execution at all
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    from scripts.build_pyfiles_zip import build

    archive = build()
    spark = (
        SparkSession.builder.master("local-cluster[2,2,1024]")
        .appName("local-cluster-parity")
        .config("spark.executor.memory", "1g")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.addPyFile(archive)
    yield spark
    spark.stop()


class TestLocalClusterParity:
    def test_runs_on_separate_executor_jvms(self, cluster_spark):
        import time

        sc = cluster_spark.sparkContext
        assert sc.master.startswith("local-cluster")
        # force work onto every executor, then wait for the registry to fill
        # (executors register with the driver's block manager lazily)
        cluster_spark.range(0, 1000, numPartitions=8).count()
        deadline = time.time() + 60
        n_executors = 0
        while time.time() < deadline:
            n_executors = sc._jsc.sc().getExecutorMemoryStatus().size() - 1
            if n_executors == 2:
                break
            time.sleep(1)
        assert n_executors == 2

    def test_flagship_byte_identity_vs_in_process_kernel(self, cluster_spark):
        docs = corpus_dataframe(cluster_spark, N_DOCS, seed=21, partitions=4)
        annotated = {
            r["url"]: r
            for r in annotate_documents(docs, repartition=4).collect()
        }
        assert len(annotated) == N_DOCS

        # expected: the pure-python kernel on the same rows, driver-side
        for row in docs.collect():
            expected = annotate_document_row(
                url=row["url"],
                html=bytes(row["html"]) if row["html"] is not None else None,
                text=row["text"],
                target_xml=row["target_xml"] if "target_xml" in docs.columns else None,
                mapping_text=DEFAULT_XML_MAPPING,
            )
            got = annotated[row["url"]]
            assert got["error"] is None
            assert got["extracted_text"] == expected["extracted_text"]  # bytes
            assert [
                (s["field"], s["start"], s["end"], s["text"]) for s in got["spans"]
            ] == [
                (s["field"], s["start"], s["end"], s["text"])
                for s in expected["spans"]
            ]
            assert got["passed"] == expected["passed"]
