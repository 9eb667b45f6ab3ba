"""Shared CLI surface for the per-flavor auto-annotate mains.

Mirrors the reference's shared argparse builders
(``auto_annotate_utils.py:98-325``): source/output paths, xml pairing regex,
mapping config + overrides, preserve options, matcher group (simple/complex,
threshold, lookahead, debug-match), line-number group, document checks, and
the ``+field,-field`` selection syntax.  The Beam cloud/runner flags are
replaced by a Spark group; ``--multi-processing`` is accepted for script
compatibility but ignored (Spark owns the parallelism).

A flavor main names its annotator chain from ``plans.flavors`` and hands it
to :func:`run_pipeline_from_args`, which reads every shared flag, resolves
the mapping and builds the matcher config; :func:`default_stack_options`
turns the line-number and matcher flags into the default stack's options.
"""

from __future__ import annotations

import argparse
import logging
import os
from typing import Any, Callable, Dict, List, Optional, Set

from pyspark.sql import SparkSession

from ..operators.annotate import MatcherConfig
from ..operators.line_numbers import (
    DEFAULT_LINE_NUMBER_RATIO_THRESHOLD,
    DEFAULT_MAX_LINE_NUMBER_GAP,
    DEFAULT_MIN_LINE_NUMBER_COUNT,
)
from ..operators.matching import (
    CsvMatchDetailReporter,
    MatchingAnnotatorConfig,
    get_simple_fuzzy_match_filter,
)
from ..operators.targets import get_tag_config_map, parse_xml_mapping_string
from ..plans.auto_annotate import (
    comma_separated_str_to_list,
    get_xml_mapping_with_overrides,
    plus_minus_comma_separated_str_to_list,
    run_auto_annotate,
)
from ..plans.flavors import AnnotatorChain
from ..plans.session import build_session
from ..sources.corpus import DEFAULT_XML_MAPPING

LOGGER = logging.getLogger(__name__)

MATCHER_NAMES = ["complex", "simple"]
DEFAULT_MATCHER_NAME = "simple"

# the matcher options of the sub-tag flavors (affiliation, figure, table;
# fulltext sets extend_to_line_enabled from its flag)
SUB_TAG_MATCHER_OPTIONS = {
    "use_sub_annotations": True,
    "preserve_sub_annotations": True,
    "extend_to_line_enabled": False,
}


def parse_dict(value: str) -> Dict[str, str]:
    """``key1=value1|key2=value2`` -> dict (reference utils/string.py)."""
    result: Dict[str, str] = {}
    for item in value.split("|"):
        item = item.strip()
        if not item:
            continue
        key, sep, val = item.partition("=")
        if not sep:
            raise argparse.ArgumentTypeError("expected key=value, got %r" % item)
        result[key.strip()] = val.strip()
    return result


def add_debug_argument(parser: argparse.ArgumentParser) -> argparse.ArgumentParser:
    parser.add_argument("--debug", action="store_true", default=False,
                        help="enable debug output")
    return parser


def process_debug_argument(args: argparse.Namespace) -> None:
    if args.debug:
        for name in ("sciencebeam_trainer_grobid_tools_spark", "__main__"):
            logging.getLogger(name).setLevel("DEBUG")


def add_annotation_pipeline_arguments(
    parser: argparse.ArgumentParser,
    default_matcher_lookahead_lines: int = 500,
) -> argparse.ArgumentParser:
    """Reference auto_annotate_utils.py:116-256 (cloud args -> Spark group)."""
    source_group = parser.add_argument_group("source")
    source_group.add_argument("--source-base-path", type=str,
                              help="source base data path for files to auto-annotate")
    source_group.add_argument("--source-path", type=str,
                              help="source path to a specific file to auto-annotate")
    parser.add_argument("--output-path", type=str, required=True,
                        help="target training data path")
    parser.add_argument("--failed-output-path", type=str, required=False,
                        help="target data path for documents failing quality checks")
    parser.add_argument("--limit", type=int, required=False,
                        help="limit the number of files to process")
    parser.add_argument("--xml-path", type=str, required=True,
                        help="path to xml file(s)")
    parser.add_argument("--xml-filename-regex", type=str, required=True,
                        help="regular expression to transform source filename to "
                             "target xml filename")
    parser.add_argument("--xml-mapping-path", type=str, default=None,
                        help="path to xml mapping file (defaults to the packaged "
                             "mapping; the reference's config/xml-mapping.conf "
                             "format is accepted)")
    parser.add_argument("--no-preserve-tags", action="store_true", required=False,
                        help="do not preserve existing tags")
    parser.add_argument("--always-preserve-fields", type=comma_separated_str_to_list,
                        help="always preserve the listed fields "
                             "(they will be excluded from the matcher)")
    parser.add_argument("--resume", action="store_true", default=False,
                        help="resume conversion (skip files that already have an "
                             "output file)")

    matcher_group = parser.add_argument_group("matcher")
    matcher_group.add_argument("--matcher", type=str, choices=MATCHER_NAMES,
                               default=DEFAULT_MATCHER_NAME,
                               help='the kind of matcher to use ("simple" requires '
                                    "correct reading order)")
    matcher_group.add_argument("--matcher-score-threshold", type=float, default=0.8,
                               help="score threshold for a match to be accepted")
    matcher_group.add_argument("--matcher-lookahead-lines", type=int,
                               default=default_matcher_lookahead_lines,
                               help="simple matcher only: number of lines to look "
                                    "ahead for matches")
    matcher_group.add_argument("--debug-match", type=str, required=False,
                               help="if set, path to csv or tsv file with debug "
                                    "matches (per-task part files inside Spark)")

    parser.add_argument("--multi-processing", action="store_true", default=False,
                        help="accepted for compatibility; Spark owns parallelism")
    parser.add_argument("--skip-errors", action="store_true", default=False,
                        help="skip per-document errors (the Spark driver always "
                             "isolates per-document failures into the counters)")

    line_no_group = parser.add_argument_group("line number annotation")
    line_no_group.add_argument("--use-line-number-annotator",
                               dest="use_line_number_annotator",
                               action="store_true", default=False,
                               help="enable line number annotator")
    line_no_group.add_argument("--no-line-number-annotator",
                               dest="use_line_number_annotator",
                               action="store_false", default=False,
                               help="disable line number annotator")
    line_no_group.add_argument("--min-line-numbers-per-page", type=int,
                               default=DEFAULT_MIN_LINE_NUMBER_COUNT,
                               help="minimum line number candidates per page")
    line_no_group.add_argument("--max-line-number-gap", type=int,
                               default=DEFAULT_MAX_LINE_NUMBER_GAP,
                               help="maximum interval gap between line numbers")
    line_no_group.add_argument("--min-line-number-ratio", type=float,
                               default=DEFAULT_LINE_NUMBER_RATIO_THRESHOLD,
                               help="minimum ratio of line number candidates vs "
                                    "first tokens of lines")

    parser.add_argument("--xml-mapping-overrides", type=parse_dict,
                        help="override xml mapping values: key1=value1|key2=value2")

    spark_group = parser.add_argument_group("spark")
    spark_group.add_argument("--spark-cpus", type=int, default=None,
                             help="local[N] cores (default: $SPARK_GRAFT_CPUS or 32); "
                                  "ignored when a SparkSession already exists")
    spark_group.add_argument("--spark-shuffle-partitions", type=int, default=None,
                             help="spark.sql.shuffle.partitions")
    return parser


def add_document_checks_arguments(parser: argparse.ArgumentParser) -> None:
    """Reference auto_annotate_utils.py:259-276."""
    parser.add_argument("--require-matching-fields", type=comma_separated_str_to_list,
                        help="fields required to match (if present); documents are "
                             "routed to the failed output otherwise")
    parser.add_argument("--required-fields", type=comma_separated_str_to_list,
                        help="fields required to be present")


def add_fields_argument(
    parser: argparse.ArgumentParser, default_fields: Optional[List[str]] = None
) -> None:
    """Reference auto_annotate_utils.py:278-288 (+field,-field syntax)."""
    defaults = list(default_fields or [])

    def parse_fields(value: str) -> List[str]:
        return plus_minus_comma_separated_str_to_list(value, defaults)

    parser.add_argument("--fields", type=parse_fields,
                        default=(defaults or None),
                        help="comma separated list of fields to annotate "
                             "(+field appends to, -field removes from the defaults)")


def add_sub_fields_argument(
    parser: argparse.ArgumentParser, default_sub_fields: Optional[List[str]] = None
) -> None:
    defaults = list(default_sub_fields or [])

    def parse_fields(value: str) -> List[str]:
        return plus_minus_comma_separated_str_to_list(value, defaults)

    parser.add_argument("--sub-fields", type=parse_fields,
                        default=(defaults or None),
                        help="comma separated list of sub fields to annotate")


def add_preserve_sub_tags_argument(parser: argparse.ArgumentParser) -> None:
    parser.add_argument("--preserve-sub-tags", action="store_true", default=False,
                        help="enable preserving sub tags")


def add_no_preserve_sub_fields_argument(parser: argparse.ArgumentParser) -> None:
    parser.add_argument("--no-preserve-sub-fields", type=comma_separated_str_to_list,
                        help="comma separated list of sub fields not to preserve")


def process_annotation_pipeline_arguments(
    parser: argparse.ArgumentParser, args: argparse.Namespace
) -> None:
    if not (args.source_base_path or args.source_path):
        parser.error("one of --source-base-path or --source-path required")


def get_or_create_session(args: argparse.Namespace, app_name: str) -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return build_session(
        app_name,
        cpus=args.spark_cpus,
        shuffle_partitions=args.spark_shuffle_partitions,
    )


def default_stack_options(args: argparse.Namespace) -> Dict[str, Any]:
    """The ``line_numbers`` and ``complex_config`` options of
    ``flavors.default_flavor`` from the line-number and matcher flags
    (get_default_annotators, auto_annotate_utils.py:488-514)."""
    line_numbers = None
    if args.use_line_number_annotator:
        line_numbers = {
            "min_count": args.min_line_numbers_per_page,
            "max_gap": args.max_line_number_gap,
            "ratio_threshold": args.min_line_number_ratio,
        }
    if args.matcher != "complex":
        return {"line_numbers": line_numbers, "complex_config": None}

    # one debug-match reporter per task (lazy), not per document: per-document
    # reporters would reopen the same per-task part file in 'w' mode and keep
    # only the last document's rows.  The partition iterator closes it at end
    # of task (matching.close_task_reporters — worker reuse deserializes a
    # fresh closure per task, so without that a long-lived worker leaks one fd
    # per task); the reporter's own process-level atexit backstop covers
    # driver-side/in-process use (close is idempotent, and the hook is
    # registered ONCE per process, not per reporter — a reused worker must
    # not accumulate a callback per task).  A reporter the task seam already
    # closed is replaced on next use instead of written-to-after-close.
    reporter_cell: list = []

    def complex_config() -> MatchingAnnotatorConfig:
        reporter = None
        if args.debug_match:
            if reporter_cell and reporter_cell[0]._closed:
                reporter_cell.clear()
            if not reporter_cell:
                reporter_cell.append(CsvMatchDetailReporter(args.debug_match))
            reporter = reporter_cell[0]
        threshold = args.matcher_score_threshold
        return MatchingAnnotatorConfig(
            match_detail_reporter=reporter,
            # the CLI's filters (reference auto_annotate_utils.py)
            seq_match_filter=get_simple_fuzzy_match_filter(
                threshold, min_match_count=10, ratio_min_match_count=20
            ),
            choice_match_filter=get_simple_fuzzy_match_filter(
                threshold, min_match_count=2, ratio_min_match_count=10
            ),
        )

    return {"line_numbers": line_numbers, "complex_config": complex_config}


def _arg_set(args: argparse.Namespace, name: str) -> Optional[Set[str]]:
    """A list-valued flag as a set; None when the flavor lacks it or it is
    empty."""
    return set(getattr(args, name, None) or []) or None


def run_pipeline_from_args(
    args: argparse.Namespace,
    app_name: str,
    make_chain: Callable[[MatcherConfig], AnnotatorChain],
    matcher_options: Dict[str, bool],
    tag_to_tei_path_mapping: Dict[str, str],
    container_path: str,
    source_pattern: str,
    default_always_preserve_fields: Optional[Set[str]] = None,
) -> Dict[str, int]:
    """Map the shared args onto :func:`run_auto_annotate` and run the job.

    Resolves the mapping (``--xml-mapping-path``, ``--xml-mapping-overrides``)
    once, builds the matcher config from it, the matcher flags and
    ``matcher_options``, and runs the chain ``make_chain`` returns for it."""
    xml_mapping_text = DEFAULT_XML_MAPPING
    if args.xml_mapping_path:
        with open(args.xml_mapping_path, encoding="utf-8") as handle:
            xml_mapping_text = handle.read()
    mapping = get_xml_mapping_with_overrides(
        parse_xml_mapping_string(xml_mapping_text), args.xml_mapping_overrides
    )
    # reference AnnotatorConfig.get_simple_annotator_config
    matcher_config = MatcherConfig(
        threshold=args.matcher_score_threshold,
        lookahead_sequence_count=args.matcher_lookahead_lines,
        tag_config_map=get_tag_config_map(mapping),
        **matcher_options,
    )
    spark = get_or_create_session(args, app_name)
    source_base_path = args.source_base_path
    limit = args.limit
    if not source_base_path:
        # --source-path: single-file mode = base dir of that file + limit 1
        # with the glob narrowed to the exact name
        source_base_path = os.path.dirname(os.path.abspath(args.source_path))
        source_pattern = os.path.basename(args.source_path)
        limit = 1
    counters = run_auto_annotate(
        spark,
        source_base_path=source_base_path,
        output_path=args.output_path,
        xml_path=args.xml_path,
        xml_filename_regex=args.xml_filename_regex,
        flavor_chain=make_chain(matcher_config),
        xml_mapping=mapping,
        tag_to_tei_path_mapping=tag_to_tei_path_mapping,
        container_path=container_path,
        fields=_arg_set(args, "fields"),
        sub_fields=_arg_set(args, "sub_fields"),
        failed_output_path=args.failed_output_path,
        require_matching_fields=_arg_set(args, "require_matching_fields"),
        required_fields=_arg_set(args, "required_fields"),
        source_pattern=source_pattern,
        preserve_tags=not args.no_preserve_tags,
        # sub-tag-only flavors always-preserve their main field when NOT
        # segmenting (reference: each AnnotatePipelineFactory sets
        # always_preserve_fields = [<field>], e.g. auto_annotate_table.py:101),
        # so the preserved main tags survive for SubTagOnly annotation;
        # an explicit --always-preserve-fields overrides the default
        preserve_fields=(
            set(args.always_preserve_fields)
            if args.always_preserve_fields
            else (default_always_preserve_fields or None)
        ),
        preserve_sub_tags=getattr(args, "preserve_sub_tags", False),
        no_preserve_sub_fields=_arg_set(args, "no_preserve_sub_fields"),
        no_preserve_fields=_arg_set(args, "no_preserve_fields"),
        limit=limit,
        resume=args.resume,
    )
    LOGGER.info("counters: %s", counters)
    print("counters: %s" % counters)
    return counters
