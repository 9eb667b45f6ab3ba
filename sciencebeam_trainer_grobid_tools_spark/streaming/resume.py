"""Resumable / incremental execution of the annotation pipeline.

The reference resumes by skipping inputs whose output file already exists
(auto_annotate_utils.py:517-529,701-716).  The engine's equivalent is
snapshot-based: the output table's ``url`` set IS the checkpoint, and resume
is a ``left_anti`` join (plans.pipeline.resume_filter).

``run_resumable`` is the driver: it processes the remaining documents in
bounded chunks, appending to the output directory; killing it at any chunk
boundary loses no work, and restart picks up exactly the unprocessed urls.
Like the reference, which filters its file list once and then fans the
documents out, it plans once per run: it reads the completed url set once,
numbers the remaining distinct urls into a persisted ``(url, chunk)`` plan
with exact chunk sizes, and writes each chunk as one job that semi-joins
(broadcast) its slice of the plan.  There is no per-chunk re-read of the
growing output and no termination probe.  The plan lives only as long as
the run: a restart reads the output's url set again and recomputes it.
A per-run manifest (JSON) records partition lineage + counters (the
north_rule's "resumable from checkpoint with per-partition lineage").
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter
from typing import Optional, Tuple

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..plans.pipeline import annotate_documents, resume_filter
from ..sources.tables import read_completed_urls


def _list_part_files(data_dir: str) -> set:
    try:
        return {
            name for name in os.listdir(data_dir) if name.startswith("part-")
        }
    except FileNotFoundError:
        return set()


def _number_remaining(spark: SparkSession, docs: DataFrame, data_dir: str) -> DataFrame:
    """The distinct urls not yet in the output, hash-partitioned by url and
    sorted by url within each partition, each with its partition and
    ``monotonically_increasing_id`` (``part << 33 | position``).  The
    numbering depends on the url set only, never on the order rows arrive
    from the shuffle.  The completed url set is read once, as the output is
    listed now, so the numbering never sees what this run writes."""
    remaining = resume_filter(
        docs.select("url"), read_completed_urls(spark, data_dir)
    )
    return (
        remaining.distinct()
        .sortWithinPartitions("url")
        .select(
            "url",
            F.spark_partition_id().alias("part"),
            F.monotonically_increasing_id().alias("id"),
        )
    )


def _detached(df: DataFrame) -> DataFrame:
    """``df``'s rows over its own RDD, with no scan of the output left in
    the plan.  Writing to a path re-caches every cached plan that scans it
    (Spark's ``CacheManager.recacheByPath``): a persisted numbering that
    still read the output would be recomputed, from the grown output, after
    the first chunk."""
    spark = df.sparkSession
    jdf = spark._jsparkSession.createDataFrame(df._jdf.javaRDD(), df._jdf.schema())
    return DataFrame(jdf, spark)


def _part_sizes(batches):
    """Row count of each ``part`` value in the batches."""
    import pandas as pd

    for pdf in batches:
        sizes = pdf["part"].value_counts()
        yield pd.DataFrame({"part": sizes.index, "rows": sizes.values})


def _chunk_plan(numbered: DataFrame, chunk_size: int) -> Tuple[DataFrame, int]:
    """The ``(url, chunk)`` plan over the persisted numbering, and its number
    of chunks.  A url's rank is its position in its partition plus the url
    count of the partitions before it; chunk = rank // chunk_size, so every
    chunk but the last holds exactly chunk_size urls."""
    counts = Counter()
    # mapInPandas, not a groupBy (a shuffle stage and one more job) nor an
    # RDD job (a second worker pool: its own daemon and workers)
    for row in numbered.select("part").mapInPandas(_part_sizes, "part int, rows long").collect():
        counts[row.part] += row.rows
    shift, total = [], 0
    for part in sorted(counts):
        # rank = id + shift: drop id's partition bits, add earlier counts
        shift += [F.lit(part), F.lit(total - (part << 33)).cast("long")]
        total += counts[part]
    if not total:
        return numbered.select("url"), 0
    rank = F.col("id") + F.element_at(F.create_map(*shift), F.col("part"))
    plan = numbered.select("url", F.floor(rank / chunk_size).alias("chunk"))
    return plan, -(-total // chunk_size)


def run_resumable(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    chunk_size: int = 10000,
    max_chunks: Optional[int] = None,
    **annotate_kwargs,
) -> dict:
    """Process remaining documents in chunks of ``chunk_size`` distinct urls;
    append outputs + manifest."""
    if chunk_size < 1:
        raise ValueError("chunk_size must be >= 1, got %r" % chunk_size)
    data_dir = output_dir.rstrip("/") + "/annotated"
    manifest_path = output_dir.rstrip("/") + "/manifest.jsonl"
    os.makedirs(output_dir, exist_ok=True)
    total_rows = 0
    # persisted before any chunk is written, so the plan is never recomputed
    # from a grown output or in another row order
    numbered = _detached(_number_remaining(spark, docs, data_dir)).persist()
    try:
        plan, n_chunks = _chunk_plan(numbered, chunk_size)
        if max_chunks is not None:
            n_chunks = min(n_chunks, max_chunks)
        for chunk_id in range(n_chunks):
            urls = plan.where(F.col("chunk") == chunk_id).select("url")
            chunk = docs.join(F.broadcast(urls), on="url", how="left_semi")
            observation = Observation()
            annotated = annotate_documents(
                chunk, observation=observation, **annotate_kwargs
            )
            before_files = _list_part_files(data_dir)
            annotated.write.mode("append").parquet(data_dir)
            # metrics come from the write job itself (Observation), not a
            # second count()/agg() execution of the kernel
            metrics = observation.get
            rows = int(metrics["docs_processed"] or 0)
            # per-partition lineage: the physical files this chunk appended
            # (each file = one write partition; restart auditing can map any
            # output partition back to its chunk)
            new_files = sorted(_list_part_files(data_dir) - before_files)
            with open(manifest_path, "a", encoding="utf-8") as fh:
                fh.write(
                    json.dumps(
                        {
                            "chunk": chunk_id,
                            "rows": rows,
                            "alignment_hits": int(metrics["alignment_hits"] or 0),
                            "chars_extracted": int(metrics["chars_extracted"] or 0),
                            "errors": int(metrics["errors"] or 0),
                            "partition_files": new_files,
                            "ts": time.time(),
                        }
                    )
                    + "\n"
                )
            total_rows += rows
    finally:
        numbered.unpersist(blocking=True)
    return {"chunks": n_chunks, "rows": total_rows}
