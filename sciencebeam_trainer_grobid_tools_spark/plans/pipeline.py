"""The flagship extraction + alignment pipeline.

Relational shell (vanilla Catalyst plan — column pruning, pushdown and AQE
apply untouched)::

    read documents (url, warc_ts, html, text, lang [, target_xml])
      -> left_anti join against completed urls        (resume, reference S2)
      -> repartition(n, xxhash64(url))                (salted spread vs skew)
      -> mapInPandas(annotate_batch)                  (the custom kernel)
      -> observe(metrics)

The per-document kernel reproduces the reference's operator chain:
HTML/TEI -> lines (S3/S5), tokenize (F6), target extraction (P1-P6),
fuzzy alignment + BIO tagging (J3-J8, W1/W2), checks (A7).  Errors are
isolated per document and emitted on an ``error`` column instead of failing
the task (reference: auto_annotate_utils.py:677-686).
"""

from __future__ import annotations

from functools import lru_cache, partial
from typing import Iterator, Optional

from pyspark.sql import DataFrame, functions as F

from ..operators.annotate import MatcherConfig, extract_entity_spans, extract_sub_entity_spans
from ..operators.checks import check_document
from ..operators.extract import html_to_lines, text_to_lines
from ..operators.targets import (
    get_tag_config_map,
    parse_xml_mapping_string,
    xml_string_to_target_annotations,
)
from ..kernel.doc import tokenize_lines
from ..sources.corpus import DEFAULT_XML_MAPPING
from ..zipcache import install_in_worker
from .flavors import default_flavor

SPAN_TYPE = "array<struct<field:string,start:int,end:int,text:string>>"

# Oversized-document guard (SURVEY §7.3.5 "large partition class"): one
# 50-100 MB HTML blob would stall a core inside the per-document kernel for
# minutes, exactly like the reference's one-doc-per-future model
# (auto_annotate_utils.py:740-757).  Documents whose payload exceeds this
# byte threshold are routed to the failed/error output instead of the
# kernel; the payload is nulled JVM-side so the bytes never cross Arrow
# into Python.  Override with ``annotate_documents(max_doc_bytes=)`` or the
# CLI's ``--max-doc-bytes`` (0 disables).
DEFAULT_MAX_DOC_BYTES = 64 * 1024 * 1024


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
    complex_config = None
    if matcher == "complex":
        # the reference's legacy MatchingAnnotator (threshold 0.9, bonding /
        # match_multiple / require_next semantics)
        from ..operators.matching import MatchingAnnotatorConfig

        complex_config = partial(MatchingAnnotatorConfig, use_tag_begin_prefix=True)
    default_flavor(
        MatcherConfig(
            threshold=threshold,
            lookahead_sequence_count=lookahead_lines,
            use_sub_annotations=use_sub_annotations,
            tag_config_map=tag_config_map,
        ),
        complex_config=complex_config,
    )(doc, targets)
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
        from ..operators.tei_render import (
            HEADER_TAG_TO_TEI_PATH_MAPPING,
            render_tei_xml,
            with_field_notes,
        )

        tei_xml = render_tei_xml(
            doc, with_field_notes(HEADER_TAG_TO_TEI_PATH_MAPPING, target_fields)
        )
    return {
        "url": url,
        "extracted_text": doc.extracted_text,
        "n_lines": len(doc.line_starts) - 1,
        "n_tokens": len(doc.texts),
        "spans": spans,
        "sub_spans": sub_spans,
        "alignment_attempts": len(target_fields),
        "alignment_hits": len(target_fields & hit_fields),
        "passed": passed,
        "reason": reason,
        "error": None,
        "tei_xml": tei_xml,
    }


def _error_row(url: str, lang: Optional[str], reason: Optional[str], error: str) -> dict:
    """The output row of a document the kernel did not annotate."""
    return {
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
        "reason": reason,
        "error": error,
        "tei_xml": None,
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
    ``max_doc_bytes``: oversized-document guard threshold (None ->
    ``DEFAULT_MAX_DOC_BYTES``, 64 MiB; 0 disables).  The size
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
    max_bytes = DEFAULT_MAX_DOC_BYTES if max_doc_bytes is None else int(max_doc_bytes)

    def annotate_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # the package installs the guard on import in a worker; a custom
        # daemon module (spark.python.daemon.module) may have imported the
        # package before pyspark.worker, so check again here
        install_in_worker()
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
                        _error_row(
                            url,
                            lang,
                            "oversized_document",
                            "oversized_document: %d bytes > max_doc_bytes=%d"
                            % (int(doc_bytes), max_bytes),
                        )
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
                    result = _error_row(
                        url, lang, None, "%s: %s" % (type(exc).__name__, exc)
                    )
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
