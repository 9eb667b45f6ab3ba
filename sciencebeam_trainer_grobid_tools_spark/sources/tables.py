"""Table IO seam: parquet now, Iceberg at deployment.

BASELINE.json specifies Iceberg tables; this sandbox has no Iceberg runtime
jar, so the engine abstracts the table format behind these helpers
(SURVEY.md §7.3 item 6).  Semantics that matter to the pipeline — atomic
appends, a snapshot to anti-join against for resume, partition pruning — are
preserved by the parquet fallback (directory + `_SUCCESS` manifest); swapping
``format("iceberg")`` in below (plus ``days(warc_ts)`` / ``bucket(url)``
partitioning DDL) is the only change needed on a real cluster, and drops the
pipeline's one shuffle (the salted repartition) when the table is bucketed by
url hash.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession


def read_documents(spark: SparkSession, location: str, fmt: str = "parquet") -> DataFrame:
    """Scan the documents table (reference S1: glob scan -> table scan).

    With Iceberg: ``spark.read.format("iceberg").load(location)`` — snapshot
    isolation and partition pruning come from the table format.
    """
    return spark.read.format(fmt).load(location)


def append_annotated(annotated: DataFrame, location: str, fmt: str = "parquet") -> None:
    """Append an output batch (reference S6).  With Iceberg this is an atomic
    snapshot commit (``annotated.writeTo(table).append()``); the parquet
    fallback appends files + `_SUCCESS`, which the chunked driver
    (streaming/resume.py) orders so a crash between chunks loses nothing."""
    annotated.write.mode("append").format(fmt).save(location)


class CompletedOutputUnreadable(RuntimeError):
    """The output table has data files but Spark cannot read them (e.g. a
    damaged parquet footer).  Resuming as if nothing were done would append a
    second copy of every finished document, so the run stops instead."""


def _has_part_files(spark: SparkSession, location: str) -> bool:
    """Whether ``location`` holds any ``part-`` data file (Hadoop filesystem
    API, so any scheme Spark reads works)."""
    jvm = spark.sparkContext._jvm
    pattern = jvm.org.apache.hadoop.fs.Path(location.rstrip("/") + "/part-*")
    fs = pattern.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    matches = fs.globStatus(pattern)
    return matches is not None and len(matches) > 0


def read_completed_urls(
    spark: SparkSession, location: str, fmt: str = "parquet"
) -> Optional[DataFrame]:
    """The resume snapshot (reference S2): the set of already-produced urls.

    Returns None when no output exists yet: no directory, or no ``part-``
    file in it (a first write that died leaves only ``_temporary``).
    Raises ``CompletedOutputUnreadable`` when part files exist but cannot
    be read."""
    if not _has_part_files(spark, location):
        return None
    try:
        return spark.read.format(fmt).load(location).select("url")
    except Exception as exc:
        raise CompletedOutputUnreadable(
            "completed output at %s has part files but cannot be read" % location
        ) from exc
