"""The flagship extraction + alignment pipeline.

Relational shell (vanilla Catalyst plan — column pruning, pushdown and AQE
apply untouched)::

    read documents (url, warc_ts, html, text, lang [, target_xml])
      -> left_anti join against completed urls        (resume, reference S2)
      -> repartition(n, xxhash64(url))                (salted spread vs skew)
      -> mapInPandas(annotate_batch)                  (the custom kernel)
      -> observe(metrics) / filtered writes (passed / failed)

The per-document kernel reproduces the reference's operator chain:
HTML/TEI -> lines (S3/S5), tokenize (F6), target extraction (P1-P6),
fuzzy alignment + BIO tagging (J3-J8, W1/W2), checks (A7).  Errors are
isolated per document and emitted on an ``error`` column instead of failing
the task (reference: auto_annotate_utils.py:677-686).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterator, Optional

from pyspark.sql import DataFrame, functions as F

from ..operators.annotate import MatcherConfig, SimpleMatcher, extract_entity_spans, extract_sub_entity_spans
from ..operators.checks import check_document
from ..operators.extract import html_to_lines, text_to_lines
from ..operators.targets import (
    get_tag_config_map,
    parse_xml_mapping_string,
    xml_string_to_target_annotations,
)
from ..kernel.doc import tokenize_lines
from ..sources.corpus import DEFAULT_XML_MAPPING

SPAN_TYPE = "array<struct<field:string,start:int,end:int,text:string>>"

# Oversized-document guard (SURVEY §7.3.5 "large partition class"): one
# 50-100 MB HTML blob would stall a core inside the per-document kernel for
# minutes, exactly like the reference's one-doc-per-future model
# (auto_annotate_utils.py:740-757).  Documents whose payload exceeds this
# byte threshold are routed to the failed/error output instead of the
# kernel; the payload is nulled JVM-side so the bytes never cross Arrow
# into Python.  Override with SPARK_GRAFT_MAX_DOC_BYTES (0 disables).
DEFAULT_MAX_DOC_BYTES = 64 * 1024 * 1024


def _resolve_max_doc_bytes(max_doc_bytes) -> int:
    import os

    if max_doc_bytes is not None:
        return int(max_doc_bytes)
    return int(os.environ.get("SPARK_GRAFT_MAX_DOC_BYTES", DEFAULT_MAX_DOC_BYTES))

ANNOTATED_SCHEMA = (
    "url string, lang string, extracted_text string, "
    "n_lines int, n_tokens int, "
    "spans %s, sub_spans %s, "
    "alignment_attempts int, alignment_hits int, "
    "passed boolean, reason string, error string, tei_xml string"
    % (SPAN_TYPE, SPAN_TYPE)
)

# canonical column order of ANNOTATED_SCHEMA (kernel output + outcome writes)
ANNOTATED_COLUMNS = (
    "url",
    "lang",
    "extracted_text",
    "n_lines",
    "n_tokens",
    "spans",
    "sub_spans",
    "alignment_attempts",
    "alignment_hits",
    "passed",
    "reason",
    "error",
    "tei_xml",
)


_observation_counter = 0


@lru_cache(maxsize=8)
def _parsed_mapping(mapping_text: str):
    mapping = parse_xml_mapping_string(mapping_text)
    tag_config_map = get_tag_config_map(mapping)
    return mapping, tag_config_map


def annotate_document_row(
    url: str,
    html: Optional[bytes],
    text: Optional[str],
    target_xml: Optional[str],
    mapping_text: str,
    threshold: float = 0.8,
    lookahead_lines: int = 500,
    use_sub_annotations: bool = True,
    require_matching_fields: str = "title",
    render_tei: bool = False,
    matcher: str = "simple",
) -> dict:
    """Pure per-document kernel — unit-testable without Spark."""
    mapping, tag_config_map = _parsed_mapping(mapping_text)
    lines = html_to_lines(html) if html is not None else text_to_lines(text)
    doc = tokenize_lines(lines)
    targets = (
        xml_string_to_target_annotations(target_xml, mapping) if target_xml else []
    )
    if matcher == "complex":
        # the reference's legacy MatchingAnnotator (threshold 0.9, bonding /
        # match_multiple / require_next semantics)
        from ..operators.matching import MatchingAnnotator, MatchingAnnotatorConfig

        MatchingAnnotator(
            targets, MatchingAnnotatorConfig(use_tag_begin_prefix=True)
        ).annotate(doc)
    else:
        SimpleMatcher(
            targets,
            MatcherConfig(
                threshold=threshold,
                lookahead_sequence_count=lookahead_lines,
                use_sub_annotations=use_sub_annotations,
                tag_config_map=tag_config_map,
            ),
        ).annotate(doc)
    spans = extract_entity_spans(doc)
    sub_spans = extract_sub_entity_spans(doc)
    required = {f for f in require_matching_fields.split(",") if f}
    passed, reason = check_document(
        doc, targets, require_matching_fields=required, spans=spans
    )
    target_fields = {t.name for t in targets}
    hit_fields = {str(s["field"]) for s in spans}
    tei_xml = None
    if render_tei:
        from ..operators.tei_render import HEADER_TAG_TO_TEI_PATH_MAPPING, render_tei_xml

        tei_mapping = dict(HEADER_TAG_TO_TEI_PATH_MAPPING)
        for field in target_fields:
            tei_mapping.setdefault(field, 'note[@type="%s"]' % field)
        tei_xml = render_tei_xml(doc, tei_mapping)
    return {
        "url": url,
        "extracted_text": doc.extracted_text,
        "n_lines": len(doc.lines),
        "n_tokens": sum(len(line) for line in doc.lines),
        "spans": spans,
        "sub_spans": sub_spans,
        "alignment_attempts": len(target_fields),
        "alignment_hits": len(target_fields & hit_fields),
        "passed": passed,
        "reason": reason,
        "error": None,
        "tei_xml": tei_xml,
    }


def annotate_documents(
    docs: DataFrame,
    mapping_text: str = DEFAULT_XML_MAPPING,
    threshold: float = 0.8,
    lookahead_lines: int = 500,
    use_sub_annotations: bool = True,
    require_matching_fields: str = "title",
    repartition: Optional[int] = None,
    use_html: bool = True,
    render_tei: bool = False,
    matcher: str = "simple",
    observation=None,
    kernel_counter=None,
    max_doc_bytes: Optional[int] = None,
) -> DataFrame:
    """documents -> annotated spans table (the north-star job).

    ``observation``: optional ``pyspark.sql.Observation`` — lets a caller
    read the run metrics from the SAME action that materializes the output
    (no second kernel execution; see streaming/resume.py).
    ``kernel_counter``: optional Spark accumulator incremented per document
    actually fed through the kernel — used by tests to assert the expensive
    stage runs exactly once per chunk.
    ``max_doc_bytes``: oversized-document guard threshold (None -> env
    ``SPARK_GRAFT_MAX_DOC_BYTES`` -> 64 MiB default; 0 disables).  The size
    measured is that of the column the kernel will actually consume — html
    when present, else the text fallback — so a small-html/giant-text row is
    still processed (its unconsumed text is dropped JVM-side regardless of
    size).  Documents whose consumed payload exceeds the threshold emit an
    ``oversized_document`` error row (counted in the ``errors`` metric,
    landing in the failed output) — the payload is nulled JVM-side before
    Arrow, so a 100 MB blob neither crosses into Python nor stalls a core in
    the alignment kernel.
    """
    import pandas as pd

    columns = set(docs.columns)
    has_target = "target_xml" in columns
    max_bytes = _resolve_max_doc_bytes(max_doc_bytes)

    def annotate_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            if kernel_counter is not None:
                kernel_counter.add(len(pdf))
            out = []
            for row in pdf.itertuples(index=False):
                url = row.url
                lang = getattr(row, "lang", None)
                doc_bytes = getattr(row, "doc_bytes", None)
                if doc_bytes is not None and not pd.isna(doc_bytes) and doc_bytes > max_bytes:
                    # oversized-document guard: payload was nulled JVM-side;
                    # account for the doc on the error/failed output
                    out.append(
                        {
                            "url": url,
                            "lang": lang,
                            "extracted_text": None,
                            "n_lines": 0,
                            "n_tokens": 0,
                            "spans": [],
                            "sub_spans": [],
                            "alignment_attempts": 0,
                            "alignment_hits": 0,
                            "passed": False,
                            "reason": "oversized_document",
                            "error": "oversized_document: %d bytes > max_doc_bytes=%d"
                            % (int(doc_bytes), max_bytes),
                            "tei_xml": None,
                        }
                    )
                    continue
                try:
                    result = annotate_document_row(
                        url=url,
                        html=(row.html if use_html else None),
                        text=getattr(row, "text", None),
                        target_xml=(row.target_xml if has_target else None),
                        mapping_text=mapping_text,
                        threshold=threshold,
                        lookahead_lines=lookahead_lines,
                        use_sub_annotations=use_sub_annotations,
                        require_matching_fields=require_matching_fields,
                        render_tei=render_tei,
                        matcher=matcher,
                    )
                    result["lang"] = lang
                except Exception as exc:  # per-document error isolation
                    result = {
                        "url": url,
                        "lang": lang,
                        "extracted_text": None,
                        "n_lines": 0,
                        "n_tokens": 0,
                        "spans": [],
                        "sub_spans": [],
                        "alignment_attempts": 0,
                        "alignment_hits": 0,
                        "passed": False,
                        "reason": None,
                        "error": "%s: %s" % (type(exc).__name__, exc),
                        "tei_xml": None,
                    }
                out.append(result)
            yield pd.DataFrame(out, columns=list(ANNOTATED_COLUMNS))

    wanted = ("url", "warc_ts", "html", "text", "lang", "target_xml")
    needed = [
        c for c in wanted if c in columns and not (c == "html" and not use_html)
    ]
    plan = docs.select(*needed)
    # size the payload the kernel will actually CONSUME: html when present,
    # else the text fallback (annotate_document_row reads text only for
    # null-html rows).  A small-html/giant-text row is therefore processable
    # — the giant text is dead weight, dropped JVM-side below, never sized
    # against the budget and never Arrow-serialized.
    payload_cols = [c for c in ("html", "text") if c in needed]
    if max_bytes > 0 and payload_cols:
        # guard runs JVM-side: size the consumed payload, then null it for
        # oversized rows so the bytes never reach the Python worker
        if payload_cols == ["html", "text"]:
            size = F.when(
                F.col("html").isNotNull(), F.octet_length(F.col("html"))
            ).otherwise(F.coalesce(F.octet_length(F.col("text")), F.lit(0)))
        else:
            size = F.coalesce(F.octet_length(F.col(payload_cols[0])), F.lit(0))
        plan = plan.withColumn("doc_bytes", size.cast("long"))
        for c in payload_cols:
            plan = plan.withColumn(
                c, F.when(F.col("doc_bytes") <= F.lit(max_bytes), F.col(c))
            )
        if payload_cols == ["html", "text"]:
            # text is never read when html is present, so drop it before
            # Arrow regardless of its size — this is what keeps the
            # small-html/giant-text row cheap as well as processable
            plan = plan.withColumn(
                "text", F.when(F.col("html").isNull(), F.col("text"))
            )
    if repartition:
        # salted spread by url-hash: giant-HTML rows distribute uniformly
        # instead of clustering in ingest order (north_star skew requirement)
        plan = plan.repartition(repartition, F.xxhash64("url"))
    annotated = plan.mapInPandas(annotate_batches, schema=ANNOTATED_SCHEMA)
    metrics = (
        F.count(F.lit(1)).alias("docs_processed"),
        F.sum("alignment_attempts").alias("alignment_attempts"),
        F.sum("alignment_hits").alias("alignment_hits"),
        F.sum(F.length("extracted_text")).alias("chars_extracted"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
    )
    if observation is not None:
        return annotated.observe(observation, *metrics)
    global _observation_counter
    _observation_counter += 1
    return annotated.observe("annotate_metrics_%d" % _observation_counter, *metrics)


def resume_filter(docs: DataFrame, completed: Optional[DataFrame]) -> DataFrame:
    """Checkpoint/resume primitive: drop documents whose url already exists in
    the completed output snapshot (reference S2/J2: resume anti-join,
    auto_annotate_utils.py:517-529,701-716)."""
    if completed is None:
        return docs
    return docs.join(completed.select("url"), on="url", how="left_anti")


def spans_table(annotated: DataFrame) -> DataFrame:
    """Explode the per-document span arrays into the flat spans output
    ``(url, field, start, end, text)``."""
    return annotated.select(
        "url", F.explode("spans").alias("span")
    ).select(
        "url",
        F.col("span.field").alias("field"),
        F.col("span.start").alias("start"),
        F.col("span.end").alias("end"),
        F.col("span.text").alias("text"),
    )


def write_outputs(annotated: DataFrame, output_dir: str) -> None:
    """Partitioned-by-outcome write (reference S6/S7 semantics: passing docs
    to one location, failing docs to another — annotation/annotator.py:185-196).

    SINGLE write job with Hive partitioning on ``passed``: the kernel runs
    exactly once and each outcome lands in its own directory
    (``documents/passed=true/``, ``documents/passed=false/``), with no
    ``cache()`` of the full annotated table (at 100 TB that cache —
    including ``tei_xml`` strings — is pure memory/disk pressure).
    Readers use :func:`read_annotated` / :func:`read_failed`, whose outcome
    filter is satisfied by PARTITION PRUNING — the other outcome's files are
    never opened.

    ``passed`` is coalesced to false before partitioning: a null outcome
    would otherwise land in ``passed=__HIVE_DEFAULT_PARTITION__`` and be
    invisible to BOTH readers (a silently-dropped document)."""
    annotated.withColumn(
        "passed", F.coalesce(F.col("passed"), F.lit(False))
    ).write.mode("overwrite").partitionBy("passed").parquet(
        output_dir.rstrip("/") + "/documents"
    )


def _annotated_column_order(read_columns) -> list:
    """Written-frame column order for a read-back outcome table: partition
    discovery appends the ``passed`` partition column last, so restore the
    canonical ANNOTATED_COLUMNS position for every known column (extra
    columns keep their read order, appended at the end)."""
    known = [c for c in ANNOTATED_COLUMNS if c in read_columns]
    extras = [c for c in read_columns if c not in known]
    return known + extras


def _read_outcome(spark, output_dir: str, passed: bool) -> DataFrame:
    # Hive partition inference types the `passed` directory values as STRING
    # ("true"/"false"); filter on the string (still a pure partition filter —
    # pruned, the other outcome's files never open) and cast back to boolean
    # so the reader's schema matches what write_outputs was given.
    docs = spark.read.parquet(output_dir.rstrip("/") + "/documents")
    return (
        docs.filter(F.col("passed") == F.lit("true" if passed else "false"))
        .withColumn("passed", F.col("passed").cast("boolean"))
        .select(*_annotated_column_order(docs.columns))
    )


def read_annotated(spark, output_dir: str) -> DataFrame:
    """Passing documents from a :func:`write_outputs` directory (pruned scan)."""
    return _read_outcome(spark, output_dir, passed=True)


def read_failed(spark, output_dir: str) -> DataFrame:
    """Failing documents from a :func:`write_outputs` directory (pruned scan)."""
    return _read_outcome(spark, output_dir, passed=False)
