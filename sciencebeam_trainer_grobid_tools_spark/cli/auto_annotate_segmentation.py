"""``python -m ...cli.auto_annotate_segmentation`` — segmentation flavor CLI
(reference ``auto_annotate_segmentation.py:211-258``)."""

from __future__ import annotations

import argparse
import logging
from typing import Optional

from ..operators.segmentation import (
    DEFAULT_SEGMENTATION_CONFIG_TEXT,
    parse_segmentation_config_string,
)
from ..plans.auto_annotate import comma_separated_str_to_list
from ..plans.flavors import segmentation_flavor
from . import shared

SEGMENTATION_CONTAINER_NODE_PATH = "text"

# reference auto_annotate_segmentation.py:48-57
SEGMENTATION_TAG_TO_TEI_PATH_MAPPING = {
    "DEFAULT": "body",
    "body": "body",
    "headnote": 'note[@place="headnote"]',
    "acknowledgment": 'div[@type="acknowledgment"]',
    "annex": 'div[@type="annex"]',
    "page": "page",
    "line_no": 'note[@type="line_no"]',
    "reference": "listBibl",
}

# reference auto_annotate_segmentation.py:63-86
DEFAULT_FIELDS = [
    "title", "abstract", "keywords_title", "keywords", "manuscript_type",
    "author", "author_aff", "author_notes", "body_section_title",
    "body_section_paragraph", "body_figure", "body_table",
    "back_section_title", "back_section_paragraph", "back_figure",
    "back_table", "acknowledgment_section_title",
    "acknowledgment_section_paragraph", "appendix_group_title", "appendix",
    "reference_list_title", "reference",
]


def add_main_args(parser: argparse.ArgumentParser) -> None:
    shared.add_annotation_pipeline_arguments(parser)
    shared.add_document_checks_arguments(parser)
    shared.add_fields_argument(parser, default_fields=DEFAULT_FIELDS)
    parser.add_argument(
        "--no-preserve-fields", type=comma_separated_str_to_list,
        help="comma separated list of output fields that should not be preserved",
    )
    parser.add_argument(
        "--no-merge-references", action="store_true",
        help="disable merging of references",
    )
    parser.add_argument(
        "--segmentation-config", default=None,
        help="path to segmentation config (defaults to the packaged "
             "segmentation.conf equivalent)",
    )
    shared.add_debug_argument(parser)


def parse_args(argv: Optional[list] = None) -> argparse.Namespace:
    parser = argparse.ArgumentParser()
    add_main_args(parser)
    args = parser.parse_args(argv)
    shared.process_annotation_pipeline_arguments(parser, args)
    return args


def load_segmentation_config(args: argparse.Namespace):
    if args.segmentation_config:
        with open(args.segmentation_config, encoding="utf-8") as handle:
            config = parse_segmentation_config_string(handle.read())
    else:
        config = parse_segmentation_config_string(DEFAULT_SEGMENTATION_CONFIG_TEXT)
    if args.no_merge_references:
        config.no_merge_references = True
    return config


def run(args: argparse.Namespace) -> dict:
    seg_config = load_segmentation_config(args)
    return shared.run_pipeline_from_args(
        args,
        app_name="auto-annotate-segmentation",
        make_chain=lambda matcher_config: segmentation_flavor(
            matcher_config,
            seg_config,
            preserve_tags=not args.no_preserve_tags,
            **shared.default_stack_options(args),
        ),
        matcher_options={"use_sub_annotations": False},
        tag_to_tei_path_mapping=SEGMENTATION_TAG_TO_TEI_PATH_MAPPING,
        container_path=SEGMENTATION_CONTAINER_NODE_PATH,
        source_pattern="*.segmentation.tei.xml*",
    )


def main(argv: Optional[list] = None) -> dict:
    args = parse_args(argv)
    shared.process_debug_argument(args)
    return run(args)


if __name__ == "__main__":
    logging.basicConfig(level="INFO")
    main()
