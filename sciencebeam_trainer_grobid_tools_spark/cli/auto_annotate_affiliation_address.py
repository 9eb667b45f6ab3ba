"""``python -m ...cli.auto_annotate_affiliation_address`` — affiliation-address
flavor CLI (reference ``auto_annotate_affiliation_address.py:166-215``)."""

from __future__ import annotations

import argparse
import logging
from typing import Optional

from ..plans.flavors import affiliation_flavor
from . import shared

# reference auto_annotate_affiliation_address.py:51-53 (tei: prefix dropped)
AFFILIATION_CONTAINER_NODE_PATH = (
    "teiHeader/fileDesc/sourceDesc/biblStruct/analytic/author"
)

# reference auto_annotate_affiliation_address.py:56-67 (tei: prefix dropped)
AFFILIATION_TAG_TO_TEI_PATH_MAPPING = {
    "DEFAULT": 'note[@type="other"]',
    "author_aff": "affiliation",
    "author_aff-label": "affiliation/marker",
    "author_aff-department": 'affiliation/orgName[@type="department"]',
    "author_aff-institution": 'affiliation/orgName[@type="institution"]',
    "author_aff-address": "affiliation/address",
    "author_aff-address-city": "affiliation/address/settlement",
    "author_aff-address-postcode": "affiliation/address/postCode",
    "author_aff-address-state": "affiliation/address/region",
    "author_aff-address-country": "affiliation/address/country",
}

DEFAULT_AFFILIATION_FIELDS = ["author_aff"]


def add_main_args(parser: argparse.ArgumentParser) -> None:
    shared.add_annotation_pipeline_arguments(parser)
    shared.add_fields_argument(parser, default_fields=DEFAULT_AFFILIATION_FIELDS)
    shared.add_sub_fields_argument(parser)
    shared.add_preserve_sub_tags_argument(parser)
    shared.add_no_preserve_sub_fields_argument(parser)
    parser.add_argument("--segment-affiliation", action="store_true", default=False,
                        help="enable segmentation of affiliations")
    parser.add_argument("--remove-invalid-affiliations", action="store_true",
                        default=False, help="enable removing invalid affiliations")
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
        app_name="auto-annotate-affiliation-address",
        make_chain=lambda matcher_config: affiliation_flavor(
            matcher_config,
            segment_affiliations=args.segment_affiliation,
            remove_untagged_enabled=args.remove_invalid_affiliations,
        ),
        matcher_options=shared.SUB_TAG_MATCHER_OPTIONS,
        tag_to_tei_path_mapping=AFFILIATION_TAG_TO_TEI_PATH_MAPPING,
        container_path=AFFILIATION_CONTAINER_NODE_PATH,
        source_pattern="*.affiliation.tei.xml*",
        default_always_preserve_fields=(
            None if args.segment_affiliation else {"author_aff"}
        ),
    )


def main(argv: Optional[list] = None) -> dict:
    args = parse_args(argv)
    shared.process_debug_argument(args)
    return run(args)


if __name__ == "__main__":
    logging.basicConfig(level="INFO")
    main()
