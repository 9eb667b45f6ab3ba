"""``python -m ...cli.auto_annotate_fulltext`` — fulltext flavor CLI
(reference ``auto_annotate_fulltext.py:233-282``)."""

from __future__ import annotations

import argparse
import logging
from typing import Optional

from ..operators.tei_render import with_field_notes
from ..plans.flavors import fulltext_flavor
from . import shared

FULLTEXT_CONTAINER_NODE_PATH = "text"

# reference auto_annotate_fulltext.py:59-66
XREF_REL_TEI_PATH_MAPPING = {
    "xref-bib": 'ref[@type="biblio"]',
    "xref-figure": 'ref[@type="figure"]',
    "xref-table": 'ref[@type="table"]',
    "xref-formula": 'ref[@type="formula"]',
    "xref-section": 'ref[@type="section"]',
    "xref-box": 'ref[@type="box"]',
}

# reference auto_annotate_fulltext.py:69-98
FULLTEXT_TAG_TO_TEI_PATH_MAPPING = {
    "DEFAULT": "other",
    "note_other": 'note[@type="other"]',
    "keywords": 'other[@type="keywords"]',
    "section_title": "head",
    "section_paragraph": "p",
    **{
        "section_paragraph-%s" % key: "p/%s" % value
        for key, value in XREF_REL_TEI_PATH_MAPPING.items()
    },
    "figure": "figure",
    "table": 'figure[@type="table"]',
    "reference_list_title": 'other[@type="ref-list-title"]',
    "appendix_group_title": 'head[@type="appendix-group"]',
    "appendix": 'figure[@xtype="appendix"]',
    "boxed_text_title": 'head[@type="box"]',
    "boxed_text_paragraph": 'p[@type="box"]',
    **{
        "boxed_text_paragraph-%s" % key: 'p[@type="box"]/%s' % value
        for key, value in XREF_REL_TEI_PATH_MAPPING.items()
    },
    "list": "list",
    "list_item": "list/item",
}

# reference auto_annotate_fulltext.py:100-113
ALL_FIELDS = [
    "keywords", "section_title", "section_paragraph", "boxed_text_title",
    "boxed_text_paragraph", "list", "list_item", "appendix_group_title",
    "appendix", "figure", "table", "reference_list_title",
]

DEFAULT_FULLTEXT_SUB_FIELDS = list(FULLTEXT_TAG_TO_TEI_PATH_MAPPING.keys())

# reference auto_annotate_fulltext.py:119-139
REPLACED_TAG_BY_TAG_MAP = {"note_other": None, 'note[@type="other"]': None}
GROUP_TAG_BY_TAG_MAP = {"list_item": "list"}
EXPAND_TO_UNTAGGED_LINES_ENABLED_TAGS = {"figure", "table"}


def add_main_args(parser: argparse.ArgumentParser) -> None:
    shared.add_annotation_pipeline_arguments(parser)
    shared.add_document_checks_arguments(parser)
    shared.add_fields_argument(parser, default_fields=ALL_FIELDS)
    shared.add_sub_fields_argument(
        parser, default_sub_fields=DEFAULT_FULLTEXT_SUB_FIELDS
    )
    parser.add_argument("--no-extend-to-line", action="store_true", required=False,
                        help="disable extend tags to line")
    parser.add_argument("--expand-to-previous-untagged-lines", action="store_true",
                        required=False,
                        help="expand figures/tables to previous untagged lines")
    parser.add_argument("--expand-to-following-untagged-lines", action="store_true",
                        required=False,
                        help="expand figures/tables to following untagged lines")
    shared.add_debug_argument(parser)


def parse_args(argv: Optional[list] = None) -> argparse.Namespace:
    parser = argparse.ArgumentParser()
    add_main_args(parser)
    args = parser.parse_args(argv)
    shared.process_annotation_pipeline_arguments(parser, args)
    return args


def run(args: argparse.Namespace) -> dict:
    # reference _get_annotator (auto_annotate_fulltext.py:142-187): the
    # prev/following expansions are gated independently
    expand_tags = EXPAND_TO_UNTAGGED_LINES_ENABLED_TAGS
    previous_tags = expand_tags if args.expand_to_previous_untagged_lines else None
    following_tags = expand_tags if args.expand_to_following_untagged_lines else None
    return shared.run_pipeline_from_args(
        args,
        app_name="auto-annotate-fulltext",
        make_chain=lambda matcher_config: fulltext_flavor(
            matcher_config,
            replaced_tag_by_tag=REPLACED_TAG_BY_TAG_MAP,
            group_tag_by_tag=GROUP_TAG_BY_TAG_MAP,
            expand_previous_tags=previous_tags,
            expand_following_tags=following_tags,
        ),
        matcher_options=dict(
            shared.SUB_TAG_MATCHER_OPTIONS,
            extend_to_line_enabled=not args.no_extend_to_line,
        ),
        tag_to_tei_path_mapping=with_field_notes(
            FULLTEXT_TAG_TO_TEI_PATH_MAPPING, args.fields or []
        ),
        container_path=FULLTEXT_CONTAINER_NODE_PATH,
        source_pattern="*.fulltext.tei.xml*",
    )


def main(argv: Optional[list] = None) -> dict:
    args = parse_args(argv)
    shared.process_debug_argument(args)
    return run(args)


if __name__ == "__main__":
    logging.basicConfig(level="INFO")
    main()
