"""The resume snapshot of an output table.

Provides ``read_completed_urls`` (the urls an output table already holds,
which a resumed run anti-joins against) and ``CompletedOutputUnreadable``,
raised when that table has data files Spark cannot read.  The table format
is parquet (directory + ``_SUCCESS`` manifest); with Iceberg (BASELINE.json;
no Iceberg runtime jar ships with the package) the read becomes
``format("iceberg")``.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession


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
