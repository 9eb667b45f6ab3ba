"""Line-number annotator tests (semantics of
tests/annotation/line_number_annotator_test.py)."""

from sciencebeam_trainer_grobid_tools_spark.operators.line_numbers import (
    annotate_line_numbers,
)

from tests.conftest import doc_for_token_lines


def numbered_lines(n, start=1, suffix=None):
    return [
        [str(start + i) + (suffix or ""), "some", "text", "line%d" % i]
        for i in range(n)
    ]


def line_no_flags(doc):
    return [[doc.tags[i] == "line_no" for i in line] for line in doc.lines]


class TestLineNumbers:
    def test_empty_document(self):
        annotate_line_numbers(doc_for_token_lines([]))

    def test_sequential_numbers_tagged(self):
        doc = doc_for_token_lines(numbered_lines(12))
        annotate_line_numbers(doc)
        flags = line_no_flags(doc)
        assert all(line[0] for line in flags)
        assert not any(any(line[1:]) for line in flags)

    def test_does_not_tag_general_tokens(self):
        doc = doc_for_token_lines([["word", "more", "text"]] * 12)
        annotate_line_numbers(doc)
        assert not any(any(line) for line in line_no_flags(doc))

    def test_does_not_tag_numbers_with_suffix(self):
        doc = doc_for_token_lines(
            [["%d)" % (i + 1), "some", "text"] for i in range(12)]
        )
        annotate_line_numbers(doc)
        assert not any(any(line) for line in line_no_flags(doc))

    def test_does_not_tag_individual_numbers(self):
        lines = [["word", "text"]] * 12 + [["5", "lonely", "number"]]
        doc = doc_for_token_lines(lines)
        annotate_line_numbers(doc)
        assert not any(any(line) for line in line_no_flags(doc))

    def test_does_not_tag_sparse_numbers_below_ratio(self):
        # 12 numbered lines among 150 total -> ratio < 0.1
        lines = numbered_lines(12) + [["word", "text"]] * 140
        doc = doc_for_token_lines(lines)
        annotate_line_numbers(doc)
        assert not any(any(line) for line in line_no_flags(doc))

    def test_out_of_sequence_number_not_tagged(self):
        lines = numbered_lines(12) + [["3", "back", "reference"]]
        doc = doc_for_token_lines(lines)
        annotate_line_numbers(doc)
        flags = line_no_flags(doc)
        assert all(line[0] for line in flags[:12])
        assert not flags[12][0]

    def test_longest_sequence_wins(self):
        # a short broken run followed by a long clean run
        lines = [["100", "intro", "text"], ["5", "other", "text"]] + numbered_lines(12)
        doc = doc_for_token_lines(lines)
        annotate_line_numbers(doc)
        flags = line_no_flags(doc)
        assert not flags[0][0]
        assert not flags[1][0]
        assert all(line[0] for line in flags[2:])


class TestLineNumbersAdditionalPortedCases:
    def test_unicode_digit_not_line_number(self):
        # '₃' (subscript three) is .isdigit() but not a line number
        # (line_number_annotator_test.py: should_not_fail_on_unicode_digit)
        doc = doc_for_token_lines(
            [["1", "token1"], ["2", "token2"], ["₃", "token3"]]
        )
        annotate_line_numbers(doc, min_count=1, ratio_threshold=0.3)
        flags = line_no_flags(doc)
        assert flags == [[True, False], [True, False], [False, False]]

    def test_repeated_out_of_sequence_number_not_tagged(self):
        doc = doc_for_token_lines(
            [["1", "token1"], ["2", "token2"], ["3", "token3"], ["4", "token4"],
             ["1", "out_of_sequence_1"],
             ["5", "token5"], ["6", "token6"], ["7", "token7"]]
        )
        annotate_line_numbers(doc, min_count=1, max_gap=0, ratio_threshold=0.5)
        flags = line_no_flags(doc)
        assert [line[0] for line in flags] == [
            True, True, True, True, False, True, True, True
        ]
