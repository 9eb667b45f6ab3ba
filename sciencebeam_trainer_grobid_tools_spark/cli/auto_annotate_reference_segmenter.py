"""``python -m ...cli.auto_annotate_reference_segmenter`` — reference-segmenter
flavor CLI (reference ``auto_annotate_reference_segmenter.py:79-110``)."""

from __future__ import annotations

import argparse
import logging
from typing import Optional

from ..plans.flavors import default_flavor
from . import shared

REFERENCE_SEGMENTER_CONTAINER_NODE_PATH = "text"

# reference auto_annotate_reference_segmenter.py:30-34
REFERENCE_SEGMENTER_TAG_TO_TEI_PATH_MAPPING = {
    "DEFAULT": 'note[@type="other"]',
    "reference": "listBibl/bibl",
    "reference-label": "listBibl/bibl/label",
}

DEFAULT_REFERENCE_SEGMENTER_FIELDS = ["reference"]


def add_main_args(parser: argparse.ArgumentParser) -> None:
    shared.add_annotation_pipeline_arguments(parser)
    shared.add_fields_argument(
        parser, default_fields=DEFAULT_REFERENCE_SEGMENTER_FIELDS
    )
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
        app_name="auto-annotate-reference-segmenter",
        make_chain=lambda matcher_config: default_flavor(
            matcher_config, **shared.default_stack_options(args)
        ),
        matcher_options={"use_sub_annotations": True},
        tag_to_tei_path_mapping=REFERENCE_SEGMENTER_TAG_TO_TEI_PATH_MAPPING,
        container_path=REFERENCE_SEGMENTER_CONTAINER_NODE_PATH,
        source_pattern="*.references.referenceSegmenter.tei.xml*",
    )


def main(argv: Optional[list] = None) -> dict:
    args = parse_args(argv)
    shared.process_debug_argument(args)
    return run(args)


if __name__ == "__main__":
    logging.basicConfig(level="INFO")
    main()
