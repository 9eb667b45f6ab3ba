"""Reference sub-field post-processing + generic post-processors tests.

Exact expectations ported from the reference's
tests/annotation/reference_annotator_test.py (cited per class).
"""

from sciencebeam_trainer_grobid_tools_spark.operators.postprocess import (
    expand_to_following_untagged_tokens,
    expand_to_previous_untagged_tokens,
    merge_group_tags,
    remove_untagged_tokens,
    replace_tags,
)
from sciencebeam_trainer_grobid_tools_spark.operators.reference import (
    DEFAULT_IDNO_PREFIX_REGEX,
    ReferencePostProcessor,
    get_etal_mapped_tags,
    get_prefix_extended_token_tags,
    get_suffix_extended_token_tags,
)

from tests.conftest import doc_for_token_lines


class TestPrefixExtendedTokenTags:
    # reference_annotator_test.py:10-33
    def test_extends_doi_prefix(self):
        assert get_prefix_extended_token_tags(
            [None, None, "b-reference-doi"],
            ["DOI", ":", "12345"],
            prefix_regex_by_tag_map={"reference-doi": DEFAULT_IDNO_PREFIX_REGEX},
        ) == ["b-reference-doi", "i-reference-doi", "i-reference-doi"]

    def test_does_not_extend_to_other_prefix_text(self):
        assert get_prefix_extended_token_tags(
            [None, None, None, None, None, None, "b-reference-doi"],
            ["some", "other", "text", ",", "DOI", ":", "12345"],
            prefix_regex_by_tag_map={"reference-doi": DEFAULT_IDNO_PREFIX_REGEX},
        ) == [None, None, None, None, "b-reference-doi", "i-reference-doi", "i-reference-doi"]

    def test_does_not_extend_other_tag(self):
        assert get_prefix_extended_token_tags(
            [None, None, "b-other"],
            ["DOI", ":", "12345"],
            prefix_regex_by_tag_map={"reference-doi": DEFAULT_IDNO_PREFIX_REGEX},
        ) == [None, None, "b-other"]


class TestSuffixExtendedTokenTags:
    # reference_annotator_test.py:36-43
    def test_extends_dot_after_author_initials(self):
        assert get_suffix_extended_token_tags(
            ["b-reference-author", "i-reference-author", None, None],
            ["Smith", ", J", ".", "other"],
            enabled_tags={"reference-author"},
        ) == ["b-reference-author", "i-reference-author", "i-reference-author", None]


class TestEtalMappedTags:
    # reference_annotator_test.py:45-110
    ETAL_KW = dict(
        etal_sub_tag="reference-etal",
        etal_merge_enabled_sub_tags={"reference-author", "reference-editor"},
    )

    def test_etal_after_author(self):
        assert get_etal_mapped_tags(
            ["b-reference-author", "i-reference-author", "b-reference-etal", "i-reference-etal"],
            **self.ETAL_KW,
        ) == ["b-reference-author", "i-reference-author", "b-reference-author", "i-reference-author"]

    def test_etal_after_editor(self):
        assert get_etal_mapped_tags(
            ["b-reference-editor", "i-reference-editor", "b-reference-etal", "i-reference-etal"],
            **self.ETAL_KW,
        ) == ["b-reference-editor", "i-reference-editor", "b-reference-editor", "i-reference-editor"]

    def test_etal_after_author_and_gap(self):
        assert get_etal_mapped_tags(
            ["b-reference-author", "i-reference-author", None, "b-reference-etal", "i-reference-etal"],
            **self.ETAL_KW,
        ) == ["b-reference-author", "i-reference-author", None, "b-reference-author", "i-reference-author"]

    def test_etal_not_after_other_tag(self):
        assert get_etal_mapped_tags(
            ["b-reference-editor", "i-reference-editor", "b-other", "b-reference-etal", "i-reference-etal"],
            **self.ETAL_KW,
        ) == ["b-reference-editor", "i-reference-editor", "b-other", "b-reference-etal", "i-reference-etal"]

    def test_etal_follows_most_recent_entity(self):
        assert get_etal_mapped_tags(
            [
                "b-reference-author", "i-reference-author",
                "b-reference-etal", "i-reference-etal",
                "b-other",
                "b-reference-editor", "i-reference-editor",
                "b-reference-etal", "i-reference-etal",
            ],
            **self.ETAL_KW,
        ) == [
            "b-reference-author", "i-reference-author",
            "b-reference-author", "i-reference-author",
            "b-other",
            "b-reference-editor", "i-reference-editor",
            "b-reference-editor", "i-reference-editor",
        ]


class TestReferencePostProcessor:
    def test_end_to_end_idno_prefix_and_gap_merge(self):
        doc = doc_for_token_lines(
            [["1", "Smith", ",", "J", ".", "DOI", ":", "12345"]]
        )
        doc.tags = ["b-reference"] + ["i-reference"] * (len(doc.tags) - 1)
        doc.sub_tags[1] = "b-reference-author"
        doc.sub_tags[3] = "i-reference-author"
        doc.sub_tags[7] = "b-reference-doi"
        from sciencebeam_trainer_grobid_tools_spark.operators.reference import (
            IDNO_PREFIX_REGEX_MAP,
            default_reference_annotator_config,
        )

        config = default_reference_annotator_config()
        # idno prefix absorption is opt-in (reference CLI flag)
        config.include_prefix_enabled_sub_tags = set(IDNO_PREFIX_REGEX_MAP.keys())
        ReferencePostProcessor(config).annotate(doc)
        sub_tags = doc.sub_tags
        # ',' between author tokens merged; '.' suffix absorbed;
        # 'DOI :' prefix absorbed into the idno span
        assert sub_tags[1:5] == [
            "b-reference-author",
            "i-reference-author",
            "i-reference-author",
            "i-reference-author",
        ]
        assert sub_tags[5:] == ["b-reference-doi", "i-reference-doi", "i-reference-doi"]


class TestPostProcessors:
    def test_expand_to_previous_untagged(self):
        doc = doc_for_token_lines([["a", "b", "c"]])
        doc.tags[2] = "b-title"
        expand_to_previous_untagged_tokens(doc, {"title"})
        assert doc.tags == ["b-title", "i-title", "i-title"]

    def test_expand_to_previous_disabled_tag(self):
        doc = doc_for_token_lines([["a", "b", "c"]])
        doc.tags[2] = "b-other"
        expand_to_previous_untagged_tokens(doc, {"title"})
        assert doc.tags == [None, None, "b-other"]

    def test_expand_to_following_untagged(self):
        doc = doc_for_token_lines([["a", "b", "c"]])
        doc.tags[0] = "b-title"
        expand_to_following_untagged_tokens(doc, {"title"})
        assert doc.tags == ["b-title", "i-title", "i-title"]

    def test_merge_group_tags(self):
        doc = doc_for_token_lines([["item", "gap", "item"]])
        doc.tags[0] = "b-list_item"
        doc.tags[2] = "b-list_item"
        merge_group_tags(doc, {"list_item": "list"}.get)
        assert doc.tags[1] == "i-list"

    def test_replace_tags_preserves_prefix(self):
        doc = doc_for_token_lines([["a", "b"]])
        doc.tags[0] = "b-note_other"
        doc.tags[1] = "i-note_other"
        replace_tags(doc, {"note_other": "other"})
        assert doc.tags == ["b-other", "i-other"]

    def test_remove_untagged(self):
        doc = doc_for_token_lines([["a", "b"], ["c", "d"]])
        doc.tags[0] = "b-title"
        remove_untagged_tokens(doc)
        remaining = doc.texts
        assert remaining == ["a"]
        assert len(doc.lines) == 1


class TestMergeGroupTagsSubLevel:
    def test_sub_level_merge_fills_gaps_between_sub_entities(self):
        # affiliation flavor: MergeGroupTags on SUB_LEVEL
        # (auto_annotate_affiliation_address.py:107-118) — untagged sub-gaps
        # between address sub-fields of a tagged affiliation get the group tag
        doc = doc_for_token_lines([["City", ",", "Country"]])
        doc.tags = ["i-author_aff"] * len(doc.tags)
        doc.sub_tags[0] = "b-author_aff-address-city"
        doc.sub_tags[2] = "b-author_aff-address-country"
        merge_group_tags(
            doc,
            {
                "author_aff-address-city": "author_aff-address",
                "author_aff-address-country": "author_aff-address",
            }.get,
            sub_level=True,
        )
        assert doc.sub_tags[1] == "i-author_aff-address"

    def test_sub_level_ignores_untagged_main_tokens(self):
        doc = doc_for_token_lines([["City", "outside", "Country"]])
        doc.tags[0] = "i-author_aff"
        doc.tags[2] = "i-author_aff"
        doc.sub_tags[0] = "b-author_aff-address-city"
        doc.sub_tags[2] = "b-author_aff-address-country"
        merge_group_tags(
            doc, {"author_aff-address-city": "author_aff-address"}.get, sub_level=True
        )
        # token without a main tag is skipped entirely at sub level
        assert doc.sub_tags[1] is None
