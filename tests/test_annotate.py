"""Matcher equivalence tests.

Expectations ported from the reference's
tests/annotation/simple_matching_annotator_test.py (cited per case).
"""

import pytest
from hypothesis import given, settings, strategies as st

from sciencebeam_trainer_grobid_tools_spark.kernel.doc import tokenize_lines
from sciencebeam_trainer_grobid_tools_spark.operators.annotate import (
    MatcherConfig,
    SimpleMatcher,
    TagConfig,
    TargetAnnotation,
    extract_entity_spans,
    extract_sub_entity_spans,
    get_extended_line_token_tags,
    select_index_ranges,
)
from sciencebeam_trainer_grobid_tools_spark.operators.tei_render import (
    HEADER_TAG_TO_TEI_PATH_MAPPING,
    render_tei_xml,
)

from tests.conftest import (
    doc_for_texts,
    doc_for_token_lines,
    sub_tag_values,
    tag_values,
    tokens_for_text,
)

TAG1, TAG2, TAG3 = "tag1", "tag2", "tag3"
B_TAG1, I_TAG1 = "b-tag1", "i-tag1"


def annotate(doc, annotations, **kwargs):
    SimpleMatcher(annotations, MatcherConfig(**kwargs)).annotate(doc)
    return doc


class TestSelectIndexRanges:
    # simple_matching_annotator_test.py:85-124
    def test_empty(self):
        assert select_index_ranges([]) == ([], [])

    def test_single(self):
        assert select_index_ranges([(1, 3)]) == ([(1, 3)], [])

    def test_consecutive(self):
        assert select_index_ranges([(1, 3), (3, 5)]) == ([(1, 3), (3, 5)], [])

    def test_first_longer_of_two_apart(self):
        assert select_index_ranges([(1, 3), (103, 105)]) == ([(1, 3)], [(103, 105)])

    def test_second_longer_of_two_apart(self):
        assert select_index_ranges([(1, 3), (103, 109)]) == ([(103, 109)], [(1, 3)])

    def test_two_close_unselect_apart(self):
        assert select_index_ranges([(1, 3), (3, 5), (103, 105)]) == (
            [(1, 3), (3, 5)],
            [(103, 105)],
        )


def _naive_select_index_ranges(index_ranges):
    """Cluster merging as the reference writes it
    (simple_matching_annotator.py:161-231): clusters are sorted range lists,
    merged pairwise until a pass merges nothing; the longest one wins."""
    if len(index_ranges) <= 1:
        return index_ranges, []

    def length(ranges):
        return ranges[-1][1] - ranges[0][0]

    def should_merge(a, b):
        if b[0][0] >= a[-1][1]:
            gap = b[0][0] - a[-1][1]
        else:
            gap = a[0][0] - b[-1][1]
        return gap <= max(length(a), length(b)) + 10

    clusters = [[r] for r in sorted(index_ranges)]
    while True:
        merged = [clusters[0]]
        has_merged = False
        for cluster in clusters[1:]:
            if should_merge(merged[-1], cluster):
                merged[-1] = sorted(merged[-1] + cluster)
                has_merged = True
            else:
                merged.append(cluster)
        if not has_merged:
            break
        clusters = merged
    by_length = sorted(clusters, key=length, reverse=True)
    return by_length[0], sorted(r for c in by_length[1:] for r in c)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 300), st.integers(0, 40)).map(lambda t: (t[0], t[0] + t[1])),
        max_size=8,
    )
)
def test_select_index_ranges_matches_naive_clustering(index_ranges):
    assert select_index_ranges(index_ranges) == _naive_select_index_ranges(index_ranges)


class TestGetExtendedLineTokenTags:
    # simple_matching_annotator_test.py:127-220
    def test_fill_beginning(self):
        assert get_extended_line_token_tags(
            [None, TAG1, TAG1], extend_to_line_enabled_map={TAG1: True}
        ) == [TAG1] * 3

    def test_fill_beginning_with_begin_prefix(self):
        assert get_extended_line_token_tags(
            [None, B_TAG1, I_TAG1],
            extend_to_line_enabled_map={TAG1: True},
            merge_enabled_map={TAG1: False},
        ) == [B_TAG1, I_TAG1, I_TAG1]

    def test_fill_multi_token_beginning_with_begin_prefix(self):
        assert get_extended_line_token_tags(
            [None, None, B_TAG1, I_TAG1, I_TAG1, I_TAG1],
            extend_to_line_enabled_map={TAG1: True},
            merge_enabled_map={TAG1: False},
        ) == [B_TAG1, I_TAG1, I_TAG1, I_TAG1, I_TAG1, I_TAG1]

    def test_fill_end(self):
        assert get_extended_line_token_tags(
            [TAG1, TAG1, None], extend_to_line_enabled_map={TAG1: True}
        ) == [TAG1] * 3

    def test_fill_end_with_begin_prefix(self):
        assert get_extended_line_token_tags(
            [B_TAG1, I_TAG1, None], extend_to_line_enabled_map={TAG1: True}
        ) == [B_TAG1, I_TAG1, I_TAG1]

    def test_fill_gaps_same_tag(self):
        assert get_extended_line_token_tags(
            [TAG1, None, TAG1], extend_to_line_enabled_map={TAG1: True}
        ) == [TAG1, TAG1, TAG1]

    def test_fill_gaps_same_tag_begin_prefix_merge_enabled(self):
        assert get_extended_line_token_tags(
            [B_TAG1, None, B_TAG1],
            extend_to_line_enabled_map={TAG1: True},
            merge_enabled_map={TAG1: True},
        ) == [B_TAG1, I_TAG1, I_TAG1]

    def test_fill_gaps_merge_enabled_line_disabled(self):
        assert get_extended_line_token_tags(
            [B_TAG1, None, B_TAG1],
            extend_to_line_enabled_map={TAG1: False},
            merge_enabled_map={TAG1: True},
        ) == [B_TAG1, I_TAG1, I_TAG1]

    def test_adjust_begin_inside_prefix_if_merge_enabled(self):
        assert get_extended_line_token_tags(
            [B_TAG1, I_TAG1, B_TAG1],
            extend_to_line_enabled_map={TAG1: True},
            merge_enabled_map={TAG1: True},
        ) == [B_TAG1, I_TAG1, I_TAG1]

    def test_no_fill_gaps_merge_disabled(self):
        assert get_extended_line_token_tags(
            [B_TAG1, None, B_TAG1],
            extend_to_line_enabled_map={TAG1: True},
            merge_enabled_map={TAG1: False},
        ) == [B_TAG1, None, B_TAG1]

    def test_no_fill_gaps_different_tags(self):
        assert get_extended_line_token_tags(
            [TAG1, None, TAG2], extend_to_line_enabled_map={TAG1: True, TAG2: True}
        ) == [TAG1, None, TAG2]

    def test_no_fill_if_minority(self):
        tags = [None, None, TAG1, None, None]
        assert get_extended_line_token_tags(
            tags, extend_to_line_enabled_map={TAG1: True}
        ) == tags

    def test_no_fill_beginning_if_disabled(self):
        assert get_extended_line_token_tags(
            [None, TAG1, TAG1], extend_to_line_enabled_map={TAG1: False}
        ) == [None, TAG1, TAG1]

    def test_no_fill_beginning_if_disabled_with_begin_prefix(self):
        assert get_extended_line_token_tags(
            [None, B_TAG1, I_TAG1], extend_to_line_enabled_map={TAG1: False}
        ) == [None, B_TAG1, I_TAG1]


class TestSimpleMatcher:
    # simple_matching_annotator_test.py:222-742 (selected cases)
    def test_empty_document(self):
        doc = doc_for_texts([])
        annotate(doc, [])

    def test_exact_match(self):
        doc = doc_for_texts(["this is matching"])
        annotate(doc, [TargetAnnotation("this is matching", TAG1)])
        assert tag_values(doc) == [TAG1] * 3

    def test_case_insensitive(self):
        doc = doc_for_texts(["This Is Matching"])
        annotate(doc, [TargetAnnotation("tHIS iS mATCHING", TAG1)])
        assert tag_values(doc) == [TAG1] * 3

    def test_single_quotes_match_double_quotes(self):
        doc = doc_for_texts(['"this is matching"'])
        annotate(doc, [TargetAnnotation("'this is matching'", TAG1)])
        assert tag_values(doc) == [TAG1] * 5

    def test_apos_match_double_quotes(self):
        doc = doc_for_texts(['"this is matching"'])
        annotate(doc, [TargetAnnotation("&apos;this is matching&apos;", TAG1)])
        assert tag_values(doc) == [TAG1] * 5

    def test_prefer_word_boundaries(self):
        doc = doc_for_texts(["this is miss"])
        annotate(doc, [TargetAnnotation("is", TAG1)])
        assert tag_values(doc) == [None, TAG1, None]

    def test_fuzzy_match(self):
        doc = doc_for_texts(["this is matching"])
        annotate(doc, [TargetAnnotation("this is. matching", TAG1)])
        assert tag_values(doc) == [TAG1] * 3

    def test_alternative_spellings(self):
        doc = doc_for_texts(["this is matching"])
        SimpleMatcher(
            [TargetAnnotation("alternative spelling", TAG1)],
            MatcherConfig(
                tag_config_map={
                    TAG1: TagConfig(
                        alternative_spellings={"alternative spelling": ["this is matching"]}
                    )
                }
            ),
        ).annotate(doc)
        assert tag_values(doc) == [TAG1] * 3

    def test_ignore_space_after_dot_short_sequence(self):
        doc = doc_for_token_lines([["A.B.,"]])
        annotate(doc, [TargetAnnotation("A. B.", TAG1)])
        assert tag_values(doc) == [TAG1]

    def test_ignore_comma_after_short_sequence(self):
        doc = doc_for_token_lines([["Name,"]])
        annotate(doc, [TargetAnnotation("Name", TAG1)])
        assert tag_values(doc) == [TAG1]

    def test_include_final_dot(self):
        doc = doc_for_texts(["this is matching."])
        annotate(doc, [TargetAnnotation("this is matching.", TAG1)])
        assert tag_values(doc) == [TAG1] * 4

    def test_ignore_dots_after_capitals_in_target(self):
        doc = doc_for_texts(["PO Box 12345"])
        annotate(doc, [TargetAnnotation("P.O. Box 12345", TAG1)])
        assert tag_values(doc) == [TAG1] * 3

    def test_no_local_match_if_needle_longer(self):
        doc = doc_for_texts(["this is matching"])
        annotate(doc, [TargetAnnotation("this is matching but not fully matching", TAG1)])
        assert tag_values(doc) == [None] * 3

    def test_match_prefix_regex_preceding_number(self):
        doc = doc_for_texts(["1", "this is matching"])
        SimpleMatcher(
            [TargetAnnotation("this is matching", TAG1)],
            MatcherConfig(
                tag_config_map={TAG1: TagConfig(match_prefix_regex=r"(?=^|\n)\d\s*$")}
            ),
        ).annotate(doc)
        assert tag_values(doc) == [TAG1] * 4

    def test_match_prefix_regex_not_after_text(self):
        doc = doc_for_texts(["Smith 1", "this is matching"])
        SimpleMatcher(
            [TargetAnnotation("this is matching", TAG1)],
            MatcherConfig(
                tag_config_map={TAG1: TagConfig(match_prefix_regex=r"(?=^|\n)\d\s*$")}
            ),
        ).annotate(doc)
        assert tag_values(doc) == [None, None, TAG1, TAG1, TAG1]

    def test_multi_value_not_annotate_label_between_author_names(self):
        doc = doc_for_texts(["Mary 1 , Smith 1", "University of Science"])
        SimpleMatcher(
            [
                TargetAnnotation(["Mary", "Smith"], TAG1),
                TargetAnnotation(["1", "University of Science"], TAG2),
            ],
            MatcherConfig(
                tag_config_map={TAG1: TagConfig(extend_to_line_enabled=True)}
            ),
        ).annotate(doc)
        assert tag_values(doc) == [TAG1] * 5 + [TAG2] * 3

    def test_separate_author_aff_with_begin_prefix(self):
        doc = doc_for_texts(["University of Science", "University of Madness"])
        annotate(
            doc,
            [
                TargetAnnotation(["1", "University of Science"], TAG1),
                TargetAnnotation(["2", "University of Madness"], TAG1),
            ],
        )
        tokens = list(doc.iter_tokens())
        assert [t.tag for t in tokens] == [B_TAG1, I_TAG1, I_TAG1, B_TAG1, I_TAG1, I_TAG1]

    def test_abstract_section_heading(self):
        doc = doc_for_texts(["Abstract this is matching."])
        SimpleMatcher(
            [TargetAnnotation("this is matching.", TAG1)],
            MatcherConfig(
                tag_config_map={
                    TAG1: TagConfig(match_prefix_regex=r"(abstract|summary)\s*$")
                }
            ),
        ).annotate(doc)
        assert tag_values(doc) == [TAG1] * 5

    def test_no_match_with_many_differences(self):
        doc = doc_for_texts(["this is matching"])
        annotate(doc, [TargetAnnotation("txhxixsx ixsx mxaxtxcxhxixnxgx", TAG1)])
        assert tag_values(doc) == [None] * 3

    def test_no_match_completely_different(self):
        doc = doc_for_texts(["something completely different"])
        annotate(doc, [TargetAnnotation("this is matching", TAG1)])
        assert tag_values(doc) == [None] * 3

    def test_exact_match_across_lines(self):
        doc = doc_for_texts(["this is matching", "and continues here"])
        annotate(doc, [TargetAnnotation("this is matching and continues here", TAG1)])
        assert tag_values(doc) == [TAG1] * 6

    def test_multi_line_with_tag_transition(self):
        doc = doc_for_texts(["this may", "match another", "tag here"])
        annotate(
            doc,
            [
                TargetAnnotation("this may match", TAG1),
                TargetAnnotation("another tag here", TAG2),
            ],
        )
        assert tag_values(doc) == [TAG1] * 3 + [TAG2] * 3

    def test_multi_value(self):
        doc = doc_for_texts(["this is john smith the author"])
        annotate(doc, [TargetAnnotation(["john", "smith"], TAG1)])
        assert tag_values(doc) == [None, None, TAG1, TAG1, None, None]

    def test_multi_value_reverse_order(self):
        doc = doc_for_texts(["this is john smith the author"])
        annotate(doc, [TargetAnnotation(["smith", "john"], TAG1)])
        assert tag_values(doc) == [None, None, TAG1, TAG1, None, None]

    def test_multi_value_too_far_away(self):
        text = "this is smith " + "etc " * 40 + "john"
        doc = doc_for_texts([text.strip()])
        annotate(doc, [TargetAnnotation(["john", "smith"], TAG1)])
        values = tag_values(doc)
        assert values[2] == TAG1
        assert values[:2] == [None, None]
        assert values[3:] == [None] * (len(values) - 3)

    def test_merge_multiple_authors(self):
        doc = doc_for_texts(["this is", "john smith, mary maison", "the author"])
        SimpleMatcher(
            [
                TargetAnnotation(["john", "smith"], TAG1),
                TargetAnnotation(["mary", "maison"], TAG1),
            ],
            MatcherConfig(
                tag_config_map={
                    TAG1: TagConfig(extend_to_line_enabled=True, merge_enabled=True)
                }
            ),
        ).annotate(doc)
        assert tag_values(doc) == [None] * 2 + [TAG1] * 5 + [None] * 2

    def test_not_merge_authors_too_far_apart(self):
        doc = doc_for_texts(
            ["this is", "john smith", "etc etc etc etc etc", "mary maison", "the author"]
        )
        annotate(
            doc,
            [
                TargetAnnotation(["john", "smith"], TAG1),
                TargetAnnotation(["mary", "maison"], TAG1),
            ],
        )
        assert tag_values(doc) == (
            [None] * 2 + [TAG1] * 2 + [None] * 5 + [TAG1] * 2 + [None] * 2
        )

    def test_annotate_whole_line(self):
        doc = doc_for_texts(["john smith 1, mary maison 2"])
        SimpleMatcher(
            [
                TargetAnnotation(["john", "smith"], TAG1),
                TargetAnnotation(["mary", "maison"], TAG1),
            ],
            MatcherConfig(
                tag_config_map={TAG1: TagConfig(extend_to_line_enabled=True)}
            ),
        ).annotate(doc)
        assert tag_values(doc) == [TAG1] * 7

    def test_references_with_lookahead(self):
        doc = doc_for_texts(
            ["previous line"] * 5
            + ["1 this is reference A", "2 this is reference B", "3 this is reference C"]
        )
        annotate(
            doc,
            [
                TargetAnnotation("this is reference A", TAG1),
                TargetAnnotation("this is reference B", TAG1),
                TargetAnnotation("this is reference C", TAG1),
            ],
            lookahead_sequence_count=3,
        )
        values = tag_values(doc)
        assert values[:10] == [None] * 10
        assert values[10:] == [TAG1] * 15

    def test_references_with_sub_tag(self):
        doc = doc_for_texts(["previous line"] * 5 + ["1 this is reference A"])
        annotate(
            doc,
            [
                TargetAnnotation(
                    "1 this is reference A",
                    TAG1,
                    sub_annotations=[TargetAnnotation("1", TAG2)],
                )
            ],
            lookahead_sequence_count=3,
            extend_to_line_enabled=False,
            use_sub_annotations=True,
        )
        values = tag_values(doc)
        subs = sub_tag_values(doc)
        assert values[10:] == [TAG1] * 5
        assert subs[10:] == [TAG2] + [None] * 4

    def test_sub_tag_case_insensitive(self):
        doc = doc_for_texts(["previous line"] * 5 + ["1 THIS IS REFERENCE A"])
        annotate(
            doc,
            [
                TargetAnnotation(
                    "1 this is reference A",
                    TAG1,
                    sub_annotations=[
                        TargetAnnotation("1", TAG2),
                        TargetAnnotation("this is reference A", TAG3),
                    ],
                )
            ],
            lookahead_sequence_count=3,
            extend_to_line_enabled=False,
            use_sub_annotations=True,
        )
        assert tag_values(doc)[10:] == [TAG1] * 5
        assert sub_tag_values(doc)[10:] == [TAG2] + [TAG3] * 4


class TestEntitySpans:
    def test_spans_with_offsets(self):
        doc = doc_for_texts(["title here", "by john smith"])
        annotate(
            doc,
            [
                TargetAnnotation("title here", TAG1),
                TargetAnnotation(["john", "smith"], TAG2),
            ],
        )
        spans = extract_entity_spans(doc)
        by_field = {s["field"]: s for s in spans}
        text = doc.extracted_text
        assert text[by_field[TAG1]["start"] : by_field[TAG1]["end"]] == "title here"
        # extend-to-line (default on) grows tag2 over the whole second line
        assert text[by_field[TAG2]["start"] : by_field[TAG2]["end"]] == "by john smith"


def _annotate_lines(lines, targets, pretag=(), **config):
    """Tokenize ``lines``, pre-tag ``(token index, tag)`` pairs, run the
    matcher and return (spans, sub_spans, tei_xml)."""
    doc = tokenize_lines(lines)
    tokens = list(doc.iter_tokens())
    for index, tag in pretag:
        tokens[index].tag = tag
    SimpleMatcher(targets, MatcherConfig(**config)).annotate(doc)
    mapping = dict(HEADER_TAG_TO_TEI_PATH_MAPPING)
    for target in targets:
        mapping.setdefault(target.name, 'note[@type="%s"]' % target.name)
    return extract_entity_spans(doc), extract_sub_entity_spans(doc), render_tei_xml(doc, mapping)


class TestPinnedMatcherEdgeCases:
    """Matcher edge cases with their spans, sub-spans and TEI as literals:
    the outputs must stay byte-identical."""

    SPLIT_LINES = [
        "Primary Results of the Study",
        "Prepared by John Smith at the University of Somewhere in 2020",
        "Contact details follow here",
    ]

    @pytest.mark.parametrize("lookahead", [200, 1])
    def test_mid_line_match_then_match_in_remainder(self, lookahead):
        # "john smith" splits line 2 into two pending sub-runs; the
        # affiliation then matches in the second one.  With a lookahead of
        # one sub-run the matches need the whole-document rescan, the block
        # re-scope and later fixpoint rounds.
        spans, sub_spans, tei_xml = _annotate_lines(
            self.SPLIT_LINES,
            [
                TargetAnnotation(
                    "John Smith", "author", sub_annotations=[TargetAnnotation("Smith", "surname")]
                ),
                TargetAnnotation("University of Somewhere", "affiliation"),
                TargetAnnotation("Primary Results of the Study", "title"),
            ],
            use_sub_annotations=True,
            extend_to_line_enabled=False,
            lookahead_sequence_count=lookahead,
        )
        assert spans == [
            {"end": 28, "field": "title", "start": 0, "text": "Primary Results of the Study"},
            {"end": 51, "field": "author", "start": 41, "text": "John Smith"},
            {"end": 82, "field": "affiliation", "start": 59, "text": "University of Somewhere"},
        ]
        assert sub_spans == [{"end": 51, "field": "surname", "start": 46, "text": "Smith"}]
        assert tei_xml == (
            '<tei><text><front><docTitle><titlePart>Primary Results of the Study<lb '
            '/></titlePart></docTitle><note type="other">Prepared by</note><byline> '
            '<docAuthor>John</docAuthor></byline> <byline><docAuthor>Smith</docAuthor></byline> <note '
            'type="other">at the</note> <note type="affiliation">University of Somewhere</note> <note '
            'type="other">in 2020<lb />Contact details follow here</note></front></text></tei>'
        )

    def test_nbsp_and_thin_space_between_matched_tokens(self):
        # NBSP and thin space are recorded token whitespace that the
        # whitespace mask keeps in the masked haystack
        spans, sub_spans, tei_xml = _annotate_lines(
            [
                "The\xa0Quantum Effects\u2009Revisited",
                "by Jane\xa0Doe and Max\u2009Power",
                "Abstract text follows",
            ],
            [
                TargetAnnotation(
                    "The Quantum Effects Revisited",
                    "title",
                    sub_annotations=[TargetAnnotation("Quantum", "keyword")],
                ),
                TargetAnnotation(["Jane Doe", "Max Power"], "author"),
                TargetAnnotation("Doe", "surname"),
            ],
            use_sub_annotations=True,
        )
        assert spans == [
            {"end": 29, "field": "title", "start": 0, "text": "The\xa0Quantum Effects\u2009Revisited"},
            {"end": 55, "field": "author", "start": 30, "text": "by Jane\xa0Doe and Max\u2009Power"},
        ]
        assert sub_spans == [{"end": 11, "field": "keyword", "start": 4, "text": "Quantum"}]
        assert tei_xml == (
            '<tei><text><front><docTitle><titlePart>The</titlePart></docTitle>\xa0'
            '<docTitle><titlePart>Quantum Effects\u2009Revisited<lb '
            '/></titlePart></docTitle><byline><docAuthor>by Jane\xa0Doe and Max\u2009Power<lb '
            '/></docAuthor></byline><note type="other">Abstract text follows</note></front></text></tei>'
        )

    def test_tokens_tagged_before_annotate_are_not_pending(self):
        # "beta" is tagged up front, so the pending run of line 2 reads
        # "alpha gamma delta" and "alpha gamma" matches across it
        spans, sub_spans, tei_xml = _annotate_lines(
            ["Header Title Here", "alpha beta gamma delta", "Author Name"],
            [
                TargetAnnotation("alpha gamma", "title"),
                TargetAnnotation("Author Name", "author"),
                TargetAnnotation("Header", "keywords"),
            ],
            pretag=[(4, "b-keywords")],
        )
        assert spans == [
            {"end": 6, "field": "keywords", "start": 0, "text": "Header"},
            {"end": 23, "field": "title", "start": 18, "text": "alpha"},
            {"end": 28, "field": "keywords", "start": 24, "text": "beta"},
            {"end": 34, "field": "title", "start": 29, "text": "gamma"},
            {"end": 52, "field": "author", "start": 41, "text": "Author Name"},
        ]
        assert sub_spans == []
        assert tei_xml == (
            '<tei><text><front><note type="keywords">Header</note> <note type="other">Title Here<lb '
            '/></note><docTitle><titlePart>alpha</titlePart></docTitle> <note type="keywords">beta</note> '
            '<docTitle><titlePart>gamma</titlePart></docTitle> <note type="other">delta<lb '
            '/></note><byline><docAuthor>Author Name</docAuthor></byline></front></text></tei>'
        )
