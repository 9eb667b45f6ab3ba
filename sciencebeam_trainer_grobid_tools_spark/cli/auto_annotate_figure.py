"""``python -m ...cli.auto_annotate_figure`` — figure flavor CLI
(reference ``auto_annotate_figure.py:150-184``)."""

from __future__ import annotations

import argparse
import logging
from typing import Optional

from ..plans.flavors import figure_flavor
from . import shared

FIGURE_CONTAINER_NODE_PATH = "text"

# reference auto_annotate_figure.py:52-57
FIGURE_TAG_TO_TEI_PATH_MAPPING = {
    "DEFAULT": 'note[@type="other"]',
    "figure": "figure",
    "figure-label": "figure/head/label",
    "figure-caption": "figure/figDesc",
}

DEFAULT_FIGURE_FIELDS = ["figure"]


def add_main_args(parser: argparse.ArgumentParser) -> None:
    shared.add_annotation_pipeline_arguments(parser)
    shared.add_fields_argument(parser, default_fields=DEFAULT_FIGURE_FIELDS)
    shared.add_sub_fields_argument(parser)
    shared.add_preserve_sub_tags_argument(parser)
    shared.add_no_preserve_sub_fields_argument(parser)
    parser.add_argument("--segment-figures", action="store_true", default=False,
                        help="enable segmentation of figures")
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
        app_name="auto-annotate-figure",
        make_chain=lambda matcher_config: figure_flavor(
            matcher_config, segment_figures=args.segment_figures
        ),
        matcher_options=shared.SUB_TAG_MATCHER_OPTIONS,
        tag_to_tei_path_mapping=FIGURE_TAG_TO_TEI_PATH_MAPPING,
        container_path=FIGURE_CONTAINER_NODE_PATH,
        source_pattern="*.figure.tei.xml*",
        default_always_preserve_fields=(
            None if args.segment_figures else {"figure"}
        ),
    )


def main(argv: Optional[list] = None) -> dict:
    args = parse_args(argv)
    shared.process_debug_argument(args)
    return run(args)


if __name__ == "__main__":
    logging.basicConfig(level="INFO")
    main()
