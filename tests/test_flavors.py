"""Flavor chain tests (composition parity with the reference entry points)."""

from sciencebeam_trainer_grobid_tools_spark.operators.annotate import (
    MatcherConfig,
    TargetAnnotation,
)
from sciencebeam_trainer_grobid_tools_spark.operators.matching import (
    MatchingAnnotatorConfig,
)
from sciencebeam_trainer_grobid_tools_spark.plans.flavors import (
    default_flavor,
    fulltext_flavor,
    reference_flavor,
    segmentation_flavor,
)

from tests.conftest import (
    doc_for_texts,
    doc_for_token_lines,
    sub_tag_values,
    tag_values,
)


class TestFlavors:
    def test_default_flavor(self):
        doc = doc_for_texts(["The Title", "by someone"])
        default_flavor()(doc, [TargetAnnotation("The Title", "title")])
        assert tag_values(doc)[:2] == ["title", "title"]

    def test_default_flavor_line_numbers_then_complex_matcher(self):
        doc = doc_for_token_lines(
            [["1", "The", "Title"]] + [[str(i), "body", "text"] for i in range(2, 13)]
        )
        configs = []

        def complex_config():
            configs.append(MatchingAnnotatorConfig())
            return configs[-1]

        default_flavor(line_numbers={"min_count": 12}, complex_config=complex_config)(
            doc, [TargetAnnotation("The Title", "title")]
        )
        assert [tag_values(doc)[line[0]] for line in doc.lines] == ["line_no"] * 12
        assert tag_values(doc)[1:3] == ["title", "title"]
        assert len(configs) == 1

    def test_segmentation_flavor_maps_title_to_front_and_rest_to_body(self):
        doc = doc_for_texts(["The Title", "body text here"])
        segmentation_flavor()(doc, [TargetAnnotation("The Title", "title")])
        values = tag_values(doc)
        assert values[:2] == ["front", "front"]
        assert set(values[2:]) == {"body"}

    def test_reference_flavor_sub_tags_only(self):
        doc = doc_for_texts(["1 Smith J Some Title 2001"])
        doc.tags = ["i-reference" if start else "b-reference" for start in doc.starts]
        reference_flavor()(
            doc,
            [
                TargetAnnotation(
                    "1 Smith J Some Title 2001",
                    "reference",
                    sub_annotations=[
                        TargetAnnotation("Smith J", "reference-author"),
                        TargetAnnotation("2001", "reference-year"),
                    ],
                )
            ],
        )
        assert set(tag_values(doc)) == {"reference"}
        subs = sub_tag_values(doc)
        assert "reference-author" in subs
        assert "reference-year" in subs

    def test_fulltext_flavor_merges_list_items(self):
        doc = doc_for_texts(["item one gap item two"])
        doc.tags[0] = "b-list_item"
        doc.tags[1] = "i-list_item"
        doc.tags[3] = "b-list_item"
        doc.tags[4] = "i-list_item"
        fulltext_flavor(MatcherConfig(extend_to_line_enabled=False))(doc, [])
        assert doc.tags[2] == "i-list"

    def test_fulltext_flavor_expands_previous_and_following_separately(self):
        doc = doc_for_texts(["before it", "Figure 1", "after it"])
        doc.tags[2] = "b-figure"
        doc.tags[3] = "i-figure"
        fulltext_flavor(
            MatcherConfig(extend_to_line_enabled=False),
            expand_previous_tags={"figure"},
        )(doc, [])
        assert tag_values(doc) == ["figure"] * 4 + [None, None]


class TestSegmentationFlavorRichDocument:
    def test_full_document_segment_classes(self):
        header = "Journal of Mice Research Volume 3"
        doc = doc_for_texts(
            [
                header,                     # headnote (repeated line text)
                "11",                       # page number (inferred from anchor)
                "The Chocolate Study",      # front: title
                "Some abstract sentence here today.",  # front: abstract
                "Body paragraph one with words.",      # body (default)
                header,                     # headnote (repeat)
                "12",                       # page number (matched page_no)
                "1. Maison M. A reference title. 2020.",  # reference
            ]
        )
        from sciencebeam_trainer_grobid_tools_spark.operators.annotate import TargetAnnotation

        segmentation_flavor()(
            doc,
            [
                TargetAnnotation("The Chocolate Study", "title"),
                TargetAnnotation("Some abstract sentence here today.", "abstract"),
                TargetAnnotation("12", "page_no"),
                TargetAnnotation("1. Maison M. A reference title. 2020.", "reference"),
            ],
        )
        line_classes = [doc.tags[line[0]] for line in doc.lines]
        assert line_classes == [
            "headnote",
            "page",   # '11' inferred: all-digit line fitting before anchor '12'
            "front",
            "front",
            "body",
            "headnote",
            "page",   # '12' matched page_no -> page class
            "reference",
        ]
