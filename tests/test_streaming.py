"""Structured Streaming variant test: incremental file source -> annotate ->
checkpointed sink (streaming/resume.py stream_annotate)."""

import time

import pytest

from sciencebeam_trainer_grobid_tools_spark.plans.session import build_session
from sciencebeam_trainer_grobid_tools_spark.sources.corpus import corpus_dataframe
from sciencebeam_trainer_grobid_tools_spark.streaming.resume import stream_annotate


@pytest.fixture(scope="module")
def spark():
    session = build_session("streaming-tests", cpus=4, shuffle_partitions=4)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


class TestStreamAnnotate:
    def test_stream_processes_all_files_and_checkpoints(self, spark, tmp_path):
        input_dir = str(tmp_path / "input")
        output_dir = str(tmp_path / "output")
        checkpoint_dir = str(tmp_path / "checkpoint")
        corpus_dataframe(spark, 24, seed=42, partitions=4).write.parquet(input_dir)
        query = stream_annotate(
            spark,
            input_dir,
            output_dir,
            checkpoint_dir,
            max_files_per_trigger=2,
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                try:
                    if spark.read.parquet(output_dir).count() >= 24:
                        break
                except Exception:
                    pass
                time.sleep(2)
        finally:
            query.stop()
        result = spark.read.parquet(output_dir)
        assert result.count() == 24
        assert result.filter("error is not null").count() == 0
        # restart from checkpoint: no duplicates
        query2 = stream_annotate(
            spark, input_dir, output_dir, checkpoint_dir, max_files_per_trigger=2
        )
        try:
            time.sleep(8)
        finally:
            query2.stop()
        assert spark.read.parquet(output_dir).count() == 24
