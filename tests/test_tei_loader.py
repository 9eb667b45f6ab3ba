"""TEI input loading with preserved tags (reference S3/P9 semantics), plus an
affiliation-flavor golden case (style of
tests/auto_annotate_affiliation_address_test.py:81-158)."""

import xml.etree.ElementTree as ET

from sciencebeam_trainer_grobid_tools_spark.operators.annotate import (
    MatcherConfig,
    SubTagOnlyMatcher,
    TargetAnnotation,
)
from sciencebeam_trainer_grobid_tools_spark.operators.tei_render import render_tagged_lines
from sciencebeam_trainer_grobid_tools_spark.sources.tei import apply_preserve_policy, load_tei_doc

HEADER_MAPPING = {
    "title": "docTitle/titlePart",
    "author": "byline/docAuthor",
}

AFFILIATION_MAPPING = {
    "author_aff": "affiliation",
    "author_aff-label": "affiliation/marker",
    "author_aff-institution": 'affiliation/orgName[@type="institution"]',
    "author_aff-country": "affiliation/address/country",
}


class TestLoadTeiDoc:
    def test_loads_lines_and_extracted_text(self):
        tei = "<tei><text><front><note>line one<lb/>line two</note></front></text></tei>"
        doc = load_tei_doc(tei, HEADER_MAPPING)
        assert doc.extracted_text == "line one\nline two"
        assert len(doc.lines) == 2

    def test_preserves_mapped_tags_with_prefixes(self):
        tei = (
            "<tei><text><front>"
            "<docTitle><titlePart>The Title</titlePart></docTitle>"
            "<byline><docAuthor>Mary Maison</docAuthor></byline>"
            "</front></text></tei>"
        )
        doc = load_tei_doc(tei, HEADER_MAPPING)
        assert doc.preserved_tags == [
            "b-title",
            "i-title",
            "b-author",
            "i-author",
        ]
        assert all(tag is None for tag in doc.tags)

    def test_unmapped_tagged_element_keeps_path_tag(self):
        tei = "<tei><text><front><note>some note</note></front></text></tei>"
        doc = load_tei_doc(tei, HEADER_MAPPING)
        assert doc.preserved_tags[0] == "b-note"

    def test_no_preserve_clears_everything(self):
        tei = "<tei><text><front><docTitle><titlePart>T x</titlePart></docTitle></front></text></tei>"
        doc = load_tei_doc(tei, HEADER_MAPPING, preserve_tags=False)
        assert all(tag is None for tag in doc.preserved_tags + doc.tags)


class TestAffiliationFlavorGolden:
    def test_sub_annotates_label_and_fields_within_preserved_affiliation(self):
        # input TEI already carries the affiliation annotation; the flavor
        # only adds level-2 sub fields (SubTagOnly + render)
        aff_text = "1 University of Science, France"
        tei = (
            "<tei><text><front><affiliation>%s</affiliation></front></text></tei>"
            % aff_text
        )
        doc = load_tei_doc(tei, AFFILIATION_MAPPING)
        # restore the preserved main tags the way annotate flows do for the
        # affiliation flavor (SubTagOnly stashes tag-or-preserved)
        targets = [
            TargetAnnotation(
                aff_text,
                "author_aff",
                sub_annotations=[
                    TargetAnnotation("1", "author_aff-label"),
                    TargetAnnotation("University of Science", "author_aff-institution"),
                    TargetAnnotation("France", "author_aff-country"),
                ],
            )
        ]
        SubTagOnlyMatcher(
            targets,
            MatcherConfig(use_sub_annotations=True, extend_to_line_enabled=False),
        ).annotate(doc)
        container = ET.Element("front")
        render_tagged_lines(container, doc, AFFILIATION_MAPPING)
        aff = container.find("affiliation")
        assert aff is not None
        assert "".join(aff.find("marker").itertext()) == "1"
        assert (
            "".join(aff.find('orgName[@type="institution"]').itertext())
            == "University of Science"
        )
        assert "".join(aff.find("address/country").itertext()) == "France"


class TestApplyPreservePolicy:
    """Ported reference tests/annotation/annotator_test.py (the pre-annotation
    preserve policy of annotate_structured_document_inplace)."""

    HEADER_MAPPING_LOCAL = {
        "title": "docTitle/titlePart",
        "parent": "parent",
        "sub1": "parent/sub1",
        "sub2": "parent/sub2",
    }

    def _title_doc(self):
        return load_tei_doc(
            "<tei><text><front><docTitle><titlePart>Title 1</titlePart>"
            "</docTitle></front></text></tei>",
            self.HEADER_MAPPING_LOCAL,
        )

    def _sub_doc(self):
        return load_tei_doc(
            "<tei><text><front><parent>parent-text-to-force-sub-tags "
            "<sub1>sub1</sub1> <sub2>sub2</sub2></parent></front></text></tei>",
            self.HEADER_MAPPING_LOCAL,
        )

    @staticmethod
    def _preserved_fields(doc):
        from sciencebeam_trainer_grobid_tools_spark.operators.annotate import (
            strip_tag_prefix,
        )

        return {
            strip_tag_prefix(tag)
            for tag in doc.preserved_tags
            if tag
        }

    @staticmethod
    def _preserved_sub_fields(doc):
        from sciencebeam_trainer_grobid_tools_spark.operators.annotate import (
            strip_tag_prefix,
        )

        return {
            strip_tag_prefix(tag) for tag in doc.sub_tags if tag
        }

    def test_should_not_preserve_tags(self):
        doc = self._title_doc()
        apply_preserve_policy(doc, preserve_tags=False, fields={"other"})
        assert self._preserved_fields(doc) == set()

    def test_should_preserve_tags(self):
        doc = self._title_doc()
        apply_preserve_policy(doc, preserve_tags=True, fields={"other"})
        assert "title" in self._preserved_fields(doc)

    def test_should_not_preserve_tags_of_fields(self):
        doc = self._title_doc()
        apply_preserve_policy(doc, preserve_tags=True, fields={"title"})
        assert "title" not in self._preserved_fields(doc)

    def test_should_preserve_all_sub_tags(self):
        doc = self._sub_doc()
        apply_preserve_policy(
            doc, preserve_tags=True, preserve_sub_tags=True, fields={"title"}
        )
        assert self._preserved_sub_fields(doc) == {"sub1", "sub2"}

    def test_should_preserve_some_sub_tags(self):
        doc = self._sub_doc()
        apply_preserve_policy(
            doc,
            preserve_tags=True,
            preserve_sub_tags=True,
            no_preserve_sub_fields={"sub1"},
            fields={"title"},
        )
        assert self._preserved_sub_fields(doc) == {"sub2"}

    def test_should_not_preserve_sub_tags(self):
        doc = self._sub_doc()
        apply_preserve_policy(
            doc, preserve_tags=True, preserve_sub_tags=False, fields={"title"}
        )
        assert self._preserved_sub_fields(doc) == set()

    def test_preserve_fields_whitelist(self):
        doc = self._sub_doc()
        apply_preserve_policy(
            doc, preserve_tags=False, preserve_fields={"parent"}, fields={"title"}
        )
        assert self._preserved_fields(doc) == {"parent"}
