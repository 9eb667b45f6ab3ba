"""Complex MatchingAnnotator tests (semantics of
core/annotation/matching_annotator.py; the reference ships no test module for
this legacy matcher, so cases here pin the documented behaviors)."""

from sciencebeam_trainer_grobid_tools_spark.operators.annotate import TargetAnnotation
from sciencebeam_trainer_grobid_tools_spark.operators.matching import (
    MatchingAnnotator,
    MatchingAnnotatorConfig,
    get_simple_fuzzy_match_filter,
)

from tests.conftest import doc_for_texts, sub_tag_values, tag_values


def annotate(doc, annotations, **kwargs):
    MatchingAnnotator(annotations, MatchingAnnotatorConfig(**kwargs)).annotate(doc)
    return doc


class TestMatchingAnnotator:
    def test_exact_match(self):
        doc = doc_for_texts(["this is matching"])
        annotate(doc, [TargetAnnotation("this is matching", "tag1")])
        assert tag_values(doc) == ["tag1"] * 3

    def test_no_match(self):
        doc = doc_for_texts(["something completely different"])
        annotate(doc, [TargetAnnotation("this is matching", "tag1")])
        assert tag_values(doc) == [None] * 3

    def test_match_spanning_two_lines(self):
        doc = doc_for_texts(["this is matching", "and continues here"])
        annotate(doc, [TargetAnnotation("this is matching and continues here", "tag1")])
        assert tag_values(doc) == ["tag1"] * 6

    def test_match_multiple(self):
        doc = doc_for_texts(
            ["this is reference alpha", "other line", "this is reference alpha"]
        )
        annotate(
            doc,
            [TargetAnnotation("this is reference alpha", "ref", match_multiple=True)],
        )
        values = tag_values(doc)
        assert values[:4] == ["ref"] * 4
        assert values[4:6] == [None, None]
        assert values[6:] == ["ref"] * 4

    def test_single_match_without_match_multiple(self):
        doc = doc_for_texts(
            ["this is reference alpha", "other line", "this is reference alpha"]
        )
        annotate(doc, [TargetAnnotation("this is reference alpha", "ref")])
        values = tag_values(doc)
        assert values[:4] == ["ref"] * 4
        assert values[6:] == [None] * 4

    def test_bonding_rejects_single_distant_value(self):
        # a bonded multi-value target with only one matching value yields no
        # matches (matching_annotator.py:357-363)
        doc = doc_for_texts(["only smith is here"])
        annotate(doc, [TargetAnnotation(["smith", "nonexistent"], "tag1", bonding=True)])
        assert tag_values(doc) == [None] * 4

    def test_multi_value_both_match(self):
        doc = doc_for_texts(["john smith wrote this"])
        annotate(doc, [TargetAnnotation(["john", "smith"], "tag1", bonding=True)])
        values = tag_values(doc)
        assert values[:2] == ["tag1", "tag1"]
        assert values[2:] == [None, None]

    def test_require_next_applies_only_with_adjacent_next_match(self):
        doc = doc_for_texts(["the label", "the value here"])
        annotate(
            doc,
            [
                TargetAnnotation("the label", "label", require_next=True),
                TargetAnnotation("the value here", "value"),
            ],
        )
        values = tag_values(doc)
        assert values == ["label", "label", "value", "value", "value"]

    def test_require_next_not_applied_without_next_match(self):
        doc = doc_for_texts(["the label", "unrelated text line"])
        annotate(
            doc,
            [
                TargetAnnotation("the label", "label", require_next=True),
                TargetAnnotation("completely absent value", "value"),
            ],
        )
        assert tag_values(doc) == [None] * 5

    def test_begin_prefix_mode(self):
        doc = doc_for_texts(["this is matching"])
        annotate(
            doc,
            [TargetAnnotation("this is matching", "tag1")],
            use_tag_begin_prefix=True,
        )
        assert doc.tags == ["b-tag1", "i-tag1", "i-tag1"]

    def test_sub_annotations(self):
        doc = doc_for_texts(["1 this is reference alpha"])
        annotate(
            doc,
            [
                TargetAnnotation(
                    "1 this is reference alpha",
                    "reference",
                    sub_annotations=[TargetAnnotation("alpha", "sub-name")],
                )
            ],
        )
        assert tag_values(doc) == ["reference"] * 5
        assert sub_tag_values(doc) == [None, None, None, None, "sub-name"]

    def test_match_detail_reporter_collects_rows(self):
        rows = []
        doc = doc_for_texts(["this is matching"])
        MatchingAnnotator(
            [TargetAnnotation("this is matching", "tag1")],
            MatchingAnnotatorConfig(match_detail_reporter=rows.append),
        ).annotate(doc)
        assert rows and rows[0]["tag"] == "tag1"
        assert rows[0]["accepted"] is True

    def test_custom_filter_threshold(self):
        doc = doc_for_texts(["thas is matchong here now"])
        annotate(
            doc,
            [TargetAnnotation("this is matching here now", "tag1")],
            seq_match_filter=get_simple_fuzzy_match_filter(0.5, min_match_count=3),
        )
        assert set(tag_values(doc)) == {"tag1"}


def test_csv_match_detail_reporter_writes_rows(tmp_path):
    """Reference S8 debug-match sink: per-match diagnostics land in a
    delimited file with a stable header."""
    import csv

    from sciencebeam_trainer_grobid_tools_spark.operators.matching import (
        MATCH_DEBUG_COLUMNS,
        CsvMatchDetailReporter,
        MatchingAnnotator,
        MatchingAnnotatorConfig,
    )
    from sciencebeam_trainer_grobid_tools_spark.operators.annotate import (
        TargetAnnotation,
    )
    from tests.conftest import doc_for_token_lines

    path = str(tmp_path / "debug-match.tsv")
    doc = doc_for_token_lines([["this", "is", "the", "title"]])
    with CsvMatchDetailReporter(path) as reporter:
        MatchingAnnotator(
            [TargetAnnotation("this is the title", "title")],
            MatchingAnnotatorConfig(match_detail_reporter=reporter),
        ).annotate(doc)
    with open(path, encoding="utf-8") as handle:
        rows = list(csv.DictReader(handle, delimiter="\t"))
    assert rows, "no debug rows written"
    assert set(rows[0].keys()) == set(MATCH_DEBUG_COLUMNS)
    assert any(r["tag"] == "title" and r["accepted"] == "True" for r in rows)
