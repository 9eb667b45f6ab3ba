"""``python -m ...cli.auto_annotate_header`` — header flavor CLI
(reference ``auto_annotate_header.py:82-113``)."""

from __future__ import annotations

import argparse
import logging
from typing import Optional

from ..operators.tei_render import HEADER_TAG_TO_TEI_PATH_MAPPING, with_field_notes
from ..plans.flavors import default_flavor
from . import shared

HEADER_CONTAINER_NODE_PATH = "text/front"


def add_main_args(parser: argparse.ArgumentParser) -> None:
    shared.add_annotation_pipeline_arguments(parser)
    shared.add_document_checks_arguments(parser)
    shared.add_fields_argument(parser)
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
        app_name="auto-annotate-header",
        make_chain=lambda matcher_config: default_flavor(
            matcher_config, **shared.default_stack_options(args)
        ),
        matcher_options={"use_sub_annotations": False},
        # reference auto_annotate_header.py:69-72: fields without an explicit
        # TEI path render as note[@type="<field>"]
        tag_to_tei_path_mapping=with_field_notes(
            HEADER_TAG_TO_TEI_PATH_MAPPING, args.fields or []
        ),
        container_path=HEADER_CONTAINER_NODE_PATH,
        source_pattern="*.header.tei.xml*",
    )


def main(argv: Optional[list] = None) -> dict:
    args = parse_args(argv)
    shared.process_debug_argument(args)
    return run(args)


if __name__ == "__main__":
    logging.basicConfig(level="INFO")
    main()
