"""File-based auto-annotate driver: the reference's ``auto_annotate_*`` main
entry points (auto_annotate_utils.py:560-716) re-expressed as one Spark job.

The reference iterates a source file list, and per TEI file derives the
matching target-XML filename via a sed-style substitution pattern
(utils/regex.py:17-37), loads both, annotates, and writes the result to the
output (or failed-output) directory.  Here the same contract is a dataflow:

    binaryFile scan (TEI)  --regexp_replace(J1 rename, JVM-side)-->
    join on derived xml filename with binaryFile scan (target XML) -->
    Arrow-batched annotate (load TEI -> targets -> flavor chain -> render)
    --> executor-side per-file writes + passed/failed counters

Both scans prune to (path, content); the join key is the derived filename
(tiny, uniform — no skew), and the per-document kernel is the same chain the
flagship pipeline runs, so the job is embarrassingly parallel after the join.
"""

from __future__ import annotations

import os
import re
from typing import Dict, List, Optional, Set, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.annotate import TargetAnnotation
from ..operators.checks import check_document
from ..operators.targets import xml_string_to_target_annotations
from ..operators.tei_render import render_tei_xml
from ..plans.flavors import AnnotatorChain
from ..sources.fs import write_text_file
from ..sources.tei import apply_preserve_policy, load_tei_doc


def parse_substitution_pattern(pattern: str) -> Tuple[str, str]:
    """Parse a sed-style ``/match/replace/`` pattern (reference
    utils/regex.py:17-37: the first character is the delimiter)."""
    if not pattern:
        raise ValueError("empty substitution pattern")
    delimiter = pattern[0]
    fragments = pattern.split(delimiter)
    if len(fragments) != 4:
        raise ValueError("invalid substitution pattern (want /match/replace/): %r" % pattern)
    _, match_pattern, replace_pattern, _ = fragments
    return match_pattern, replace_pattern


def regex_change_name(name: str, pattern: str) -> str:
    """Reference utils/regex.py:40-47: apply the substitution to a filename."""
    match_pattern, replace_pattern = parse_substitution_pattern(pattern)
    return re.sub(match_pattern, replace_pattern, name)


def comma_separated_str_to_list(value: str) -> List[str]:
    """Reference utils/string.py: ``'a, b' -> ['a', 'b']``, empty -> []."""
    value = value.strip()
    if not value:
        return []
    return [item.strip() for item in value.split(",")]


def plus_minus_comma_separated_str_to_list(
    value: str, default_values: List[str]
) -> List[str]:
    """The auto-annotate ``--fields`` selection syntax (reference
    utils/string.py:24-42): if the FIRST item starts with ``+``/``-`` the
    defaults are modified (the sign mode carries over following plain
    items); otherwise the list replaces the defaults outright."""
    items = comma_separated_str_to_list(value)
    if not items or not items[0] or items[0][0] not in "+-":
        return items
    result = list(default_values)
    mode = None
    for item in items:
        if not item:
            continue
        if item[0] in "+-":
            mode = item[0]
            item = item[1:]
        if mode == "+":
            result.append(item)
        elif mode == "-":
            result.remove(item)
    return result


def get_mapping_key_field_name(key: str) -> str:
    """``tag1.sub.label`` -> ``tag1`` (auto_annotate_utils.py:334-335)."""
    return key.split(".", maxsplit=1)[0]


def _sub_field_for_key(key: str) -> Optional[str]:
    field_name = get_mapping_key_field_name(key)
    sub_prefix = field_name + ".sub."
    if not key.startswith(sub_prefix):
        return None
    return key[len(sub_prefix):]


def get_filtered_xml_mapping_and_fields(
    xml_mapping: Dict[str, Dict[str, str]],
    fields: Optional[Set[str]],
    sub_fields: Optional[Set[str]] = None,
):
    """Restrict the mapping config to ``fields`` BEFORE extraction — excluded
    fields' xpaths are never evaluated (auto_annotate_utils.py:371-397).
    Dotted option keys (``tag.merge``, ``tag.sub.x``) follow their field;
    with no fields given, the mapping's own top-level keys become the field
    set.  ``sub_fields`` further restricts ``tag.sub.*`` entries."""
    if fields:
        result_fields = set(fields)
        xml_mapping = {
            top: {
                k: v
                for k, v in field_mapping.items()
                if get_mapping_key_field_name(k) in fields
            }
            for top, field_mapping in xml_mapping.items()
        }
    else:
        result_fields = {
            k
            for field_mapping in xml_mapping.values()
            for k in field_mapping.keys()
            if "." not in k
        }
    if sub_fields:
        xml_mapping = {
            top: {
                k: v
                for k, v in field_mapping.items()
                if _sub_field_for_key(k) is None or _sub_field_for_key(k) in sub_fields
            }
            for top, field_mapping in xml_mapping.items()
        }
    return xml_mapping, result_fields


def get_xml_mapping_with_overrides(
    xml_mapping: Dict[str, Dict[str, str]],
    xml_mapping_overrides: Optional[Dict[str, str]],
) -> Dict[str, Dict[str, str]]:
    """Apply ``tag.prop=value`` overrides across every top-level section
    (auto_annotate_utils.py:400-411)."""
    if not xml_mapping_overrides:
        return xml_mapping
    return {
        top: {**field_mapping, **xml_mapping_overrides}
        for top, field_mapping in xml_mapping.items()
    }


def _jvm_replacement(replace_pattern: str) -> str:
    r"""Python ``\1`` backrefs -> Java ``$1`` (for JVM-side regexp_replace)."""
    return re.sub(r"\\(\d+)", r"$\1", replace_pattern)


def _scan_files(spark: SparkSession, base_path: str, glob: str) -> DataFrame:
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(os.path.abspath(base_path))
        .select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
            F.col("content"),
        )
    )


def run_auto_annotate(
    spark: SparkSession,
    source_base_path: str,
    output_path: str,
    xml_path: str,
    xml_filename_regex: str,
    flavor_chain: AnnotatorChain,
    xml_mapping: Dict[str, Dict[str, str]],
    tag_to_tei_path_mapping: Dict[str, str],
    container_path: str = "text/front",
    fields: Optional[Set[str]] = None,
    sub_fields: Optional[Set[str]] = None,
    failed_output_path: Optional[str] = None,
    require_matching_fields: Optional[Set[str]] = None,
    required_fields: Optional[Set[str]] = None,
    source_pattern: str = "*.tei.xml",
    preserve_tags: bool = True,
    preserve_fields: Optional[Set[str]] = None,
    preserve_sub_tags: bool = False,
    no_preserve_sub_fields: Optional[Set[str]] = None,
    no_preserve_fields: Optional[Set[str]] = None,
    limit: Optional[int] = None,
    resume: bool = False,
) -> Dict[str, int]:
    """Run a flavor over a directory of raw training-TEI files paired with
    target-XML files, writing annotated TEI per input file.

    ``xml_mapping`` is the parsed mapping with any overrides already
    applied (``parse_xml_mapping_string`` + ``get_xml_mapping_with_overrides``).

    Returns ``{"passed": n, "failed": m}``; failing documents (per the
    reference's checks, annotation/checks.py:137-175) are written to
    ``failed_output_path`` when given, mirroring the reference's
    failed-output sink (S7).
    """
    match_pattern, replace_pattern = parse_substitution_pattern(xml_filename_regex)
    tei_files = _scan_files(spark, source_base_path, source_pattern)
    if resume and os.path.isdir(output_path):
        # S2 resume filter: skip inputs whose output file already exists —
        # an anti-join on file_name (paths-only scan; binary content pruned)
        done = _scan_files(spark, output_path, source_pattern).select("file_name")
        tei_files = tei_files.join(done, on="file_name", how="left_anti")
    if limit is not None:
        tei_files = tei_files.limit(limit)
    xml_files = _scan_files(spark, xml_path, "*.xml").select(
        F.col("file_name").alias("xml_name"), F.col("content").alias("xml_content")
    )
    paired = tei_files.withColumn(
        "xml_name",
        F.regexp_replace(
            "file_name", F.lit(match_pattern), F.lit(_jvm_replacement(replace_pattern))
        ),
    ).join(xml_files, on="xml_name", how="inner")

    mapping, selected_fields = get_filtered_xml_mapping_and_fields(
        xml_mapping, fields, sub_fields=sub_fields
    )
    out_root = os.path.abspath(output_path)
    failed_root = os.path.abspath(failed_output_path) if failed_output_path else None
    render_container = tuple(container_path.split("/"))

    def annotate_batches(batches):
        import pandas as pd

        try:
            yield from _annotate_batches_inner(batches, pd)
        finally:
            # end-of-task seam: close any --debug-match reporter this task's
            # stage closure opened (worker reuse would otherwise accumulate
            # one open fd per task — see matching.close_task_reporters)
            from ..operators.matching import close_task_reporters

            close_task_reporters()

    def _annotate_batches_inner(batches, pd):
        for pdf in batches:
            out_rows = []
            for row in pdf.itertuples(index=False):
                passed, error = True, None
                try:
                    doc = load_tei_doc(
                        bytes(row.content),
                        tag_to_tei_path_mapping,
                        container_path=container_path,
                        preserve_tags=preserve_tags or bool(preserve_fields),
                    )
                    # reference annotator.py:73-113: keep preserved tags
                    # except the fields being re-annotated; sub-tag policy
                    # no_preserve_fields (segmentation --no-preserve-fields,
                    # reference output_fields) adds output tags to the
                    # never-preserve set alongside the re-annotated fields
                    apply_preserve_policy(
                        doc,
                        preserve_tags=preserve_tags,
                        fields=set(selected_fields or ()) | set(no_preserve_fields or ())
                        or None,
                        preserve_fields=preserve_fields,
                        preserve_sub_tags=preserve_sub_tags,
                        no_preserve_sub_fields=no_preserve_sub_fields,
                    )
                    # fields were already applied to the MAPPING (excluded
                    # fields' xpaths are never evaluated — reference behavior)
                    targets: List[TargetAnnotation] = xml_string_to_target_annotations(
                        bytes(row.xml_content).decode("utf-8"), mapping
                    )
                    flavor_chain(doc, targets)
                    passed, reason = check_document(
                        doc,
                        targets,
                        require_matching_fields=require_matching_fields,
                        required_fields=required_fields,
                    )
                    tei_out = render_tei_xml(
                        doc, tag_to_tei_path_mapping, container_path=render_container
                    )
                    root = out_root if passed else (failed_root or out_root)
                    target_file = os.path.join(root, row.file_name)
                    # per-file sink goes through the FS seam (sources/fs.py)
                    # so object-store backends can be swapped per scheme
                    write_text_file(target_file, tei_out)
                    error = reason
                except Exception as exc:  # per-document isolation (flagship policy)
                    passed, error = False, "%s: %s" % (type(exc).__name__, exc)
                out_rows.append(
                    {"file_name": row.file_name, "passed": passed, "error": error}
                )
            yield pd.DataFrame(out_rows, columns=["file_name", "passed", "error"])

    outcome = (
        paired.mapInPandas(
            annotate_batches, schema="file_name string, passed boolean, error string"
        )
        .groupBy("passed")
        .count()
        .collect()
    )
    counters = {"passed": 0, "failed": 0}
    for row in outcome:
        counters["passed" if row["passed"] else "failed"] = row["count"]
    return counters
