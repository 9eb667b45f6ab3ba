"""Quality check tests (semantics of annotation/checks.py:137-175)."""

from sciencebeam_trainer_grobid_tools_spark.operators.annotate import TargetAnnotation
from sciencebeam_trainer_grobid_tools_spark.operators.checks import check_document

from tests.conftest import doc_for_texts


def tagged_doc(lines, tags_per_line):
    doc = doc_for_texts(lines)
    for line, tags in zip(doc.lines, tags_per_line):
        for token, tag in zip(line, tags):
            doc.tags[token] = tag
    return doc


class TestCheckDocument:
    def test_passes_without_required_fields(self):
        doc = doc_for_texts(["anything"])
        passed, reason = check_document(doc, [], require_matching_fields=set())
        assert passed and reason is None

    def test_passes_when_entity_matches_target(self):
        doc = tagged_doc(["the actual title"], [["title", "title", "title"]])
        passed, _ = check_document(
            doc,
            [TargetAnnotation("the actual title", "title")],
            require_matching_fields={"title"},
        )
        assert passed

    def test_passes_with_small_divergence(self):
        doc = tagged_doc(["the actual titel"], [["title", "title", "title"]])
        passed, _ = check_document(
            doc,
            [TargetAnnotation("the actual title", "title")],
            require_matching_fields={"title"},
        )
        assert passed  # levenshtein ratio >= 0.8

    def test_fails_when_entity_text_differs(self):
        doc = tagged_doc(["completely different words"], [["title"] * 3])
        passed, reason = check_document(
            doc,
            [TargetAnnotation("the actual title", "title")],
            require_matching_fields={"title"},
        )
        assert not passed
        assert "below threshold" in (reason or "")

    def test_fails_when_field_not_tagged(self):
        doc = doc_for_texts(["the actual title"])
        passed, reason = check_document(
            doc,
            [TargetAnnotation("the actual title", "title")],
            require_matching_fields={"title"},
        )
        assert not passed
        assert "not tagged" in (reason or "")

    def test_required_field_missing_from_targets(self):
        doc = doc_for_texts(["text"])
        passed, reason = check_document(
            doc, [], required_fields={"title"}
        )
        assert not passed
        assert "missing required" in (reason or "")

    def test_multiple_entities_joined_with_space(self):
        # two title entities joined: 'part one' + ' ' + 'part two'
        doc = tagged_doc(
            ["part one", "gap", "part two"],
            [["b-title", "i-title"], [None], ["b-title", "i-title"]],
        )
        passed, _ = check_document(
            doc,
            [TargetAnnotation("part one part two", "title")],
            require_matching_fields={"title"},
        )
        assert passed


def test_implicitly_selects_required_fields():
    """required_fields are checked even when require_matching_fields is empty
    (reference checks_test.py: should_implictily_select_required_fields)."""
    from sciencebeam_trainer_grobid_tools_spark.operators.checks import check_document
    from sciencebeam_trainer_grobid_tools_spark.operators.annotate import (
        TargetAnnotation,
    )
    from tests.conftest import doc_for_token_lines

    doc = doc_for_token_lines([["other"]])
    doc.tags = ["b-tag1"] * len(doc.tags)
    passed, reason = check_document(
        doc,
        [TargetAnnotation("value1", "other")],
        require_matching_fields=set(),
        required_fields={"tag1"},
    )
    assert not passed


class TestCheckDocumentGivenSpans:
    def test_given_spans_are_used_instead_of_a_token_walk(self):
        doc = tagged_doc(["the actual title"], [["b-title", "i-title", "i-title"]])
        targets = [TargetAnnotation("the actual title", "title")]
        spans = [{"field": "title", "start": 0, "end": 5, "text": "other words"}]
        assert check_document(doc, targets, require_matching_fields={"title"})[0]
        passed, reason = check_document(
            doc, targets, require_matching_fields={"title"}, spans=spans
        )
        assert not passed
        assert reason == "field below threshold (0.19): title"

    def test_pipeline_reason_below_threshold(self):
        """The title matches case-insensitively but the check compares case:
        ``passed``/``reason`` as recorded before the pipeline handed its
        spans to the check."""
        from sciencebeam_trainer_grobid_tools_spark.plans.pipeline import (
            annotate_document_row,
        )
        from sciencebeam_trainer_grobid_tools_spark.sources.corpus import (
            DEFAULT_XML_MAPPING,
        )

        target_xml = (
            "<article><front><article-meta><title-group><article-title>"
            "Research Batch Growth Batch"
            "</article-title></title-group></article-meta></front></article>"
        )
        row = annotate_document_row(
            "u",
            None,
            "RESEARCH BATCH GROWTH BATCH\nSome body text follows here.",
            target_xml,
            DEFAULT_XML_MAPPING,
        )
        assert [s["text"] for s in row["spans"]] == ["RESEARCH BATCH GROWTH BATCH"]
        assert (row["passed"], row["reason"]) == (
            False,
            "field below threshold (0.26): title",
        )
