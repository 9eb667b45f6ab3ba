"""Segmentation annotator tests, ported from the reference's
tests/annotation/segmentation_annotator_test.py."""

from typing import List, Optional, Tuple

from sciencebeam_trainer_grobid_tools_spark.operators.segmentation import (
    SegmentTags,
    SegmentationAnnotator,
    SegmentationConfig,
    _is_page_header_candidate,
    parse_segmentation_config_string,
)

from tests.conftest import doc_for_token_lines

CONFIG = SegmentationConfig(
    {
        SegmentTags.FRONT: {"title", "abstract"},
        SegmentTags.BODY: {"section_title"},
        SegmentTags.REFERENCE: {"reference"},
        SegmentTags.ANNEX: {"appendix"},
    }
)


def config(**kwargs) -> SegmentationConfig:
    return SegmentationConfig(CONFIG.segmentation_mapping, **kwargs)


HEADER = "This is a very long page header".split(" ")


def build_doc(lines: List[List[Tuple[Optional[str], str]]]):
    doc = doc_for_token_lines([[token for _, token in line] for line in lines])
    for line, doc_line in zip(lines, doc.lines):
        for (tag, _), token in zip(line, doc_line):
            doc.tags[token] = tag
    return doc


def tagged_lines(doc) -> List[List[Tuple[Optional[str], str]]]:
    return [[(doc.tags[i], doc.texts[i]) for i in line] for line in doc.lines]


class TestPageHeaderCandidate:
    # segmentation_annotator_test.py:120-162
    def test_rejects_digits_dots_spaces(self):
        assert not _is_page_header_candidate("123", 2, None)
        assert not _is_page_header_candidate("123.456", 2, None)
        assert not _is_page_header_candidate("123 456", 2, None)

    def test_rejects_single_token(self):
        assert not _is_page_header_candidate("single", 2, None)

    def test_accepts_long_text(self):
        assert _is_page_header_candidate("This is a very long page header", 2, None)
        assert _is_page_header_candidate("1 This is a very long page header", 2, None)

    def test_rejects_below_min_count(self):
        assert not _is_page_header_candidate("This is a long page header", 1, None)


class TestParseConfig:
    def test_parses_tags_and_thresholds(self):
        cfg = parse_segmentation_config_string(
            "[config]\nfront_max_start_line_index = 7\n"
            "[tags]\nfront = title, abstract\nreference = reference\n"
        )
        assert cfg.segmentation_mapping["front"] == {"title", "abstract"}
        assert cfg.front_max_start_line_index == 7


class TestSegmentationAnnotator:
    # segmentation_annotator_test.py:165-614 (selected cases)
    def test_empty_document(self):
        SegmentationAnnotator(CONFIG).annotate(build_doc([]))

    def test_title_as_front(self):
        doc = build_doc([[("title", "token1")]])
        SegmentationAnnotator(CONFIG).annotate(doc)
        assert tagged_lines(doc) == [[("front", "token1")]]

    def test_reference_as_reference(self):
        doc = build_doc([[("reference", "token1")]])
        SegmentationAnnotator(CONFIG).annotate(doc)
        assert tagged_lines(doc) == [[("reference", "token1")]]

    def test_merge_separate_references_if_enabled(self):
        doc = build_doc(
            [
                [("b-reference", "token1"), ("i-reference", "token2")],
                [("b-reference", "token3"), ("i-reference", "token4")],
            ]
        )
        SegmentationAnnotator(config(no_merge_references=False)).annotate(doc)
        assert tagged_lines(doc) == [
            [("reference", "token1"), ("reference", "token2")],
            [("reference", "token3"), ("reference", "token4")],
        ]

    def test_keep_separate_references_if_disabled(self):
        doc = build_doc(
            [
                [("b-reference", "token1"), ("i-reference", "token2")],
                [("b-reference", "token3"), ("i-reference", "token4")],
            ]
        )
        SegmentationAnnotator(config(no_merge_references=True)).annotate(doc)
        assert tagged_lines(doc) == [
            [("b-reference", "token1"), ("i-reference", "token2")],
            [("b-reference", "token3"), ("i-reference", "token4")],
        ]

    def test_merge_fills_gap_between_references(self):
        doc = build_doc(
            [
                [("b-reference", "token1"), ("i-reference", "token2")],
                [(None, "token3"), (None, "token4")],
                [("b-reference", "token5"), ("i-reference", "token6")],
            ]
        )
        SegmentationAnnotator(config(no_merge_references=False)).annotate(doc)
        assert tagged_lines(doc) == [
            [("reference", "token1"), ("reference", "token2")],
            [("reference", "token3"), ("reference", "token4")],
            [("reference", "token5"), ("reference", "token6")],
        ]

    def test_merge_fills_gap_between_annex_blocks(self):
        doc = build_doc(
            [
                [("b-appendix", "token1"), ("i-appendix", "token2")],
                [(None, "token3"), (None, "token4")],
                [("b-appendix", "token5"), ("i-appendix", "token6")],
            ]
        )
        SegmentationAnnotator(config(no_merge_references=False)).annotate(doc)
        assert tagged_lines(doc) == [
            [("annex", "token1"), ("annex", "token2")],
            [("annex", "token3"), ("annex", "token4")],
            [("annex", "token5"), ("annex", "token6")],
        ]

    def test_trailing_untagged_becomes_annex(self):
        doc = build_doc(
            [
                [("b-appendix", "token1"), ("i-appendix", "token2")],
                [(None, "token3"), (None, "token4")],
            ]
        )
        SegmentationAnnotator(config(no_merge_references=False)).annotate(doc)
        assert tagged_lines(doc) == [
            [("annex", "token1"), ("annex", "token2")],
            [("annex", "token3"), ("annex", "token4")],
        ]

    def test_untagged_becomes_body(self):
        doc = build_doc([[(None, "token1")]])
        SegmentationAnnotator(CONFIG).annotate(doc)
        assert tagged_lines(doc) == [[("body", "token1")]]

    def test_untagged_kept_if_preserve(self):
        doc = build_doc([[(None, "token1")]])
        SegmentationAnnotator(CONFIG, preserve_tags=True).annotate(doc)
        assert tagged_lines(doc) == [[(None, "token1")]]

    def test_majority_vote_retags_line(self):
        doc = build_doc([[("title", "token1"), ("title", "token2"), ("other", "token3")]])
        SegmentationAnnotator(CONFIG).annotate(doc)
        assert tagged_lines(doc) == [
            [("front", "token1"), ("front", "token2"), ("front", "token3")]
        ]

    def test_untagged_lines_between_front_lines(self):
        doc = build_doc(
            [[("title", "token1")], [(None, "token2")], [("title", "token3")]]
        )
        SegmentationAnnotator(CONFIG, preserve_tags=True).annotate(doc)
        assert tagged_lines(doc) == [
            [("front", "token1")],
            [("front", "token2")],
            [("front", "token3")],
        ]

    def test_untagged_lines_before_first_front(self):
        doc = build_doc(
            [[(None, "token1")], [("title", "token2")], [("title", "token3")]]
        )
        SegmentationAnnotator(CONFIG, preserve_tags=True).annotate(doc)
        assert tagged_lines(doc) == [
            [("front", "token1")],
            [("front", "token2")],
            [("front", "token3")],
        ]

    def test_untagged_lines_after_last_front_not_merged(self):
        doc = build_doc(
            [[("title", "token1")], [("title", "token2")], [(None, "token3")]]
        )
        SegmentationAnnotator(CONFIG, preserve_tags=True).annotate(doc)
        assert tagged_lines(doc) == [
            [("front", "token1")],
            [("front", "token2")],
            [(None, "token3")],
        ]

    def test_clear_minority_among_untagged(self):
        doc = build_doc([[(None, "token1"), (None, "token2"), ("other", "token3")]])
        SegmentationAnnotator(CONFIG, preserve_tags=True).annotate(doc)
        assert tagged_lines(doc) == [
            [(None, "token1"), (None, "token2"), (None, "token3")]
        ]

    def test_front_cleared_beyond_start_threshold(self):
        doc = build_doc(
            [[(None, "token1")], [(None, "token2")], [("title", "token3")]]
        )
        SegmentationAnnotator(
            config(front_max_start_line_index=1), preserve_tags=True
        ).annotate(doc)
        assert tagged_lines(doc) == [
            [(None, "token1")],
            [(None, "token2")],
            [(None, "token3")],
        ]

    def test_front_kept_if_started_before_threshold(self):
        doc = build_doc(
            [[("title", "token1")], [("title", "token2")], [("title", "token3")]]
        )
        SegmentationAnnotator(
            config(front_max_start_line_index=1), preserve_tags=True
        ).annotate(doc)
        assert tagged_lines(doc) == [
            [("front", "token1")],
            [("front", "token2")],
            [("front", "token3")],
        ]

    def test_page_header_detection(self):
        doc = build_doc(
            [
                [(None, t) for t in HEADER],
                [("title", "token1")],
                [(None, t) for t in HEADER],
                [("abstract", "token2")],
            ]
        )
        SegmentationAnnotator(CONFIG).annotate(doc)
        assert tagged_lines(doc) == [
            [("headnote", t) for t in HEADER],
            [("front", "token1")],
            [("headnote", t) for t in HEADER],
            [("front", "token2")],
        ]

    def test_front_or_body_after_page_header(self):
        doc = build_doc(
            [
                [(None, t) for t in HEADER],
                [(None, "token1")],
                [("title", "token2")],
                [(None, t) for t in HEADER],
                [(None, "token3")],
                [("section_title", "token4")],
            ]
        )
        SegmentationAnnotator(CONFIG).annotate(doc)
        assert tagged_lines(doc) == [
            [("headnote", t) for t in HEADER],
            [("front", "token1")],
            [("front", "token2")],
            [("headnote", t) for t in HEADER],
            [("body", "token3")],
            [("body", "token4")],
        ]

    def test_preserved_page_numbers_not_headnote(self):
        doc = build_doc(
            [
                [(None, "1")],
                [("title", "token1")],
                [(None, "1")],
                [("section_title", "token2")],
            ]
        )
        doc.preserved_tags[0] = "page"
        doc.preserved_tags[2] = "page"
        SegmentationAnnotator(CONFIG, preserve_tags=True).annotate(doc)
        assert tagged_lines(doc) == [
            [("page", "1")],
            [("front", "token1")],
            [("page", "1")],
            [("body", "token2")],
        ]

    def test_find_missing_page_numbers(self):
        doc = build_doc(
            [
                [(None, "1")],
                [("title", "token1")],
                [("page", "2")],
                [("section_title", "token2")],
                [("page", "3")],
            ]
        )
        SegmentationAnnotator(CONFIG, preserve_tags=True).annotate(doc)
        assert tagged_lines(doc) == [
            [("page", "1")],
            [("front", "token1")],
            [("page", "2")],
            [("body", "token2")],
            [("page", "3")],
        ]

    def test_out_of_order_page_number_not_promoted(self):
        doc = build_doc(
            [
                [(None, "2")],
                [("title", "token1")],
                [("page", "2")],
                [("section_title", "token2")],
                [("page", "3")],
            ]
        )
        SegmentationAnnotator(CONFIG, preserve_tags=True).annotate(doc)
        assert tagged_lines(doc) == [
            [("front", "2")],
            [("front", "token1")],
            [("page", "2")],
            [("body", "token2")],
            [("page", "3")],
        ]


class TestSegmentationAdditionalPortedCases:
    """Remaining reference cases (segmentation_annotator_test.py):
    empty lines, in-line majority tag, page lines inside front gaps."""

    def test_does_not_fail_on_empty_line(self):
        doc = build_doc([[], [(None, "token1")]])
        SegmentationAnnotator(config(), preserve_tags=True).annotate(doc)
        assert tagged_lines(doc) == [[], [(None, "token1")]]

    def test_annotates_line_using_common_tag(self):
        doc = build_doc(
            [[("title", "token1"), ("title", "token2"), ("other", "token3")]]
        )
        SegmentationAnnotator(config()).annotate(doc)
        assert tagged_lines(doc) == [
            [
                (SegmentTags.FRONT, "token1"),
                (SegmentTags.FRONT, "token2"),
                (SegmentTags.FRONT, "token3"),
            ]
        ]

    def test_does_not_merge_page_lines_between_front_lines(self):
        doc = build_doc(
            [
                [("title", "token1")],
                [("page", "token2")],
                [("title", "token3")],
            ]
        )
        SegmentationAnnotator(config(), preserve_tags=True).annotate(doc)
        assert tagged_lines(doc) == [
            [(SegmentTags.FRONT, "token1")],
            [(SegmentTags.PAGE, "token2")],
            [(SegmentTags.FRONT, "token3")],
        ]
