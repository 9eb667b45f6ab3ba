"""``python -m ...cli.auto_annotate_table`` — table flavor CLI
(reference ``auto_annotate_table.py:124-157``)."""

from __future__ import annotations

import argparse
import logging
from typing import Optional

from ..plans.flavors import table_flavor
from . import shared

TABLE_CONTAINER_NODE_PATH = "text"

# reference auto_annotate_table.py:47-52
TABLE_TAG_TO_TEI_PATH_MAPPING = {
    "DEFAULT": 'note[@type="other"]',
    "table": 'figure[@type="table"]',
    "table-label": 'figure[@type="table"]/head/label',
    "table-caption": 'figure[@type="table"]/figDesc',
}

DEFAULT_TABLE_FIELDS = ["table"]


def add_main_args(parser: argparse.ArgumentParser) -> None:
    shared.add_annotation_pipeline_arguments(parser)
    shared.add_fields_argument(parser, default_fields=DEFAULT_TABLE_FIELDS)
    shared.add_sub_fields_argument(parser)
    shared.add_preserve_sub_tags_argument(parser)
    shared.add_no_preserve_sub_fields_argument(parser)
    parser.add_argument("--segment-tables", action="store_true", default=False,
                        help="enable segmentation of tables")
    shared.add_debug_argument(parser)


def parse_args(argv: Optional[list] = None) -> argparse.Namespace:
    parser = argparse.ArgumentParser()
    add_main_args(parser)
    args = parser.parse_args(argv)
    shared.process_annotation_pipeline_arguments(parser, args)
    return args


def run(args: argparse.Namespace) -> dict:
    return shared.run_pipeline_from_args(
        args,
        app_name="auto-annotate-table",
        make_chain=lambda matcher_config: table_flavor(
            matcher_config, segment_tables=args.segment_tables
        ),
        matcher_options=shared.SUB_TAG_MATCHER_OPTIONS,
        tag_to_tei_path_mapping=TABLE_TAG_TO_TEI_PATH_MAPPING,
        container_path=TABLE_CONTAINER_NODE_PATH,
        source_pattern="*.table.tei.xml*",
        default_always_preserve_fields=(
            None if args.segment_tables else {"table"}
        ),
    )


def main(argv: Optional[list] = None) -> dict:
    args = parse_args(argv)
    shared.process_debug_argument(args)
    return run(args)


if __name__ == "__main__":
    logging.basicConfig(level="INFO")
    main()
