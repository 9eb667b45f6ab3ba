"""``python -m ...cli.auto_annotate_reference`` — references flavor CLI
(reference ``auto_annotate_reference.py:171-265``)."""

from __future__ import annotations

import argparse
import logging
from typing import Optional

from ..operators.reference import default_reference_annotator_config
from ..operators.tei_render import with_field_notes
from ..plans.flavors import reference_flavor
from . import shared

# reference auto_annotate_reference.py:48 ('tei:text/tei:back/tei:listBibl',
# without the tei: ns prefix — see the tag-mapping note below)
REFERENCE_CONTAINER_NODE_PATH = "text/back/listBibl"

# reference auto_annotate_reference.py:51-72 (without the tei: ns prefix —
# the engine renders plain TEI tag names; see tests/test_flavor_chains.py)
REFERENCE_TAG_TO_TEI_PATH_MAPPING = {
    "DEFAULT": 'note[@type="other"]',
    "reference": "bibl",
    "reference-label": "bibl/label",
    "reference-author": "bibl/author",
    "reference-editor": "bibl/editor",
    "reference-year": "bibl/date",
    "reference-article-title": 'bibl/title[@level="a"]',
    "reference-source": 'bibl/title[@level="j"]',
    "reference-publisher-name": "bibl/publisher",
    "reference-publisher-loc": "bibl/pubPlace",
    "reference-volume": 'bibl/biblScope[@unit="volume"]',
    "reference-issue": 'bibl/biblScope[@unit="issue"]',
    "reference-page": 'bibl/biblScope[@unit="page"]',
    "reference-issn": 'bibl/idno[@type="ISSN"]',
    "reference-isbn": 'bibl/idno[@type="ISBN"]',
    "reference-doi": 'bibl/idno[@type="DOI"]',
    "reference-pii": 'bibl/idno[@type="PII"]',
    "reference-pmid": 'bibl/idno[@type="PMID"]',
    "reference-pmcid": 'bibl/idno[@type="PMC"]',
    "reference-arxiv": 'bibl/idno[@type="arxiv"]',
}

DEFAULT_REFERENCE_FIELDS = ["reference"]

# reference auto_annotate_reference.py:94-102
IDNO_SUB_TAGS = {
    "reference-issn", "reference-isbn", "reference-doi", "reference-pii",
    "reference-pmid", "reference-pmcid", "reference-arxiv",
}


def add_main_args(parser: argparse.ArgumentParser) -> None:
    shared.add_annotation_pipeline_arguments(parser)
    shared.add_fields_argument(parser, default_fields=DEFAULT_REFERENCE_FIELDS)
    parser.add_argument("--include-idno-prefix", action="store_true", default=False,
                        help='include the prefix of an idno, e.g. "doi:"')
    parser.add_argument("--segment-references", action="store_true", default=False,
                        help="enable segmentation of references")
    parser.add_argument("--remove-invalid-references", action="store_true",
                        default=False, help="enable removing invalid references")
    shared.add_debug_argument(parser)


def parse_args(argv: Optional[list] = None) -> argparse.Namespace:
    parser = argparse.ArgumentParser()
    add_main_args(parser)
    args = parser.parse_args(argv)
    shared.process_annotation_pipeline_arguments(parser, args)
    return args


def run(args: argparse.Namespace) -> dict:
    reference_config = default_reference_annotator_config()
    if args.include_idno_prefix:
        reference_config.include_prefix_enabled_sub_tags = set(IDNO_SUB_TAGS)
    return shared.run_pipeline_from_args(
        args,
        app_name="auto-annotate-reference",
        make_chain=lambda matcher_config: reference_flavor(
            matcher_config,
            reference_config=reference_config,
            segment_references=args.segment_references,
            remove_untagged_enabled=args.remove_invalid_references,
        ),
        matcher_options={"use_sub_annotations": True, "extend_to_line_enabled": False},
        tag_to_tei_path_mapping=with_field_notes(
            REFERENCE_TAG_TO_TEI_PATH_MAPPING, args.fields or []
        ),
        container_path=REFERENCE_CONTAINER_NODE_PATH,
        source_pattern="*.references.tei.xml*",
        default_always_preserve_fields=(
            None if args.segment_references else {"reference"}
        ),
    )


def main(argv: Optional[list] = None) -> dict:
    args = parse_args(argv)
    shared.process_debug_argument(args)
    return run(args)


if __name__ == "__main__":
    logging.basicConfig(level="INFO")
    main()
