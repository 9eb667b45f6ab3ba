"""Pipeline flavors mirroring the reference's entry points (SURVEY.md §3).

Each reference ``auto_annotate_<flavor>`` module is the same skeleton with a
different annotator chain + tag->TEI mapping; here each flavor is a function
``TokenizedDoc + targets -> TokenizedDoc`` composing the engine's operators:

- header:        SimpleMatcher (+ optional line numbers) —
                 auto_annotate_header.py:52-96
- segmentation:  SimpleMatcher -> SegmentationAnnotator —
                 auto_annotate_segmentation.py:93-104
- reference:     SubTagOnlyMatcher (or SimpleMatcher when segmenting) ->
                 ReferencePostProcessor [-> remove untagged] —
                 auto_annotate_reference.py:140-168
- fulltext:      SimpleMatcher -> ReplaceTags(note_other->None) ->
                 MergeGroupTags(list_item->list) [-> Expand prev/following] —
                 auto_annotate_fulltext.py:190-231
- affiliation:   SubTagOnly/SimpleMatcher (preserve sub annotations,
                 extend-to-line off) [-> RemoveUntagged] ->
                 MergeGroupTags(sub-level, address sub-tags ->
                 author_aff-address) — auto_annotate_affiliation_address.py:51-118
- figure:        SubTagOnly/SimpleMatcher (same config; segment flag picks
                 the matcher) — auto_annotate_figure.py:49-88
- table:         identical chain for table/table-label/table-caption —
                 auto_annotate_table.py:44-84
- reference_segmenter: [line numbers ->] SimpleMatcher (default annotators) —
                 auto_annotate_reference_segmenter.py:27-46 +
                 auto_annotate_utils.py:488-514

The flavor callable plugs into ``annotate_documents`` as the per-document
kernel's annotator chain.
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional, Set

from ..kernel.doc import TokenizedDoc
from ..operators.annotate import (
    MatcherConfig,
    SimpleMatcher,
    SubTagOnlyMatcher,
    TargetAnnotation,
)
from ..operators.line_numbers import annotate_line_numbers
from ..operators.postprocess import (
    expand_to_following_untagged_tokens,
    expand_to_previous_untagged_tokens,
    merge_group_tags,
    remove_untagged_tokens,
    replace_tags,
)
from ..operators.reference import ReferenceAnnotatorConfig, ReferencePostProcessor
from ..operators.segmentation import (
    DEFAULT_SEGMENTATION_CONFIG_TEXT,
    SegmentationAnnotator,
    SegmentationConfig,
    parse_segmentation_config_string,
)

AnnotatorChain = Callable[[TokenizedDoc, List[TargetAnnotation]], TokenizedDoc]


def header_flavor(
    config: Optional[MatcherConfig] = None,
    detect_line_numbers: bool = False,
) -> AnnotatorChain:
    def annotate(doc: TokenizedDoc, targets: List[TargetAnnotation]) -> TokenizedDoc:
        if detect_line_numbers:
            annotate_line_numbers(doc)
        SimpleMatcher(targets, config).annotate(doc)
        return doc

    return annotate


def segmentation_flavor(
    matcher_config: Optional[MatcherConfig] = None,
    segmentation_config: Optional[SegmentationConfig] = None,
    preserve_tags: bool = False,
) -> AnnotatorChain:
    seg_config = segmentation_config or parse_segmentation_config_string(
        DEFAULT_SEGMENTATION_CONFIG_TEXT
    )

    def annotate(doc: TokenizedDoc, targets: List[TargetAnnotation]) -> TokenizedDoc:
        SimpleMatcher(targets, matcher_config).annotate(doc)
        SegmentationAnnotator(seg_config, preserve_tags=preserve_tags).annotate(doc)
        return doc

    return annotate


def reference_flavor(
    matcher_config: Optional[MatcherConfig] = None,
    reference_config: Optional[ReferenceAnnotatorConfig] = None,
    segment_references: bool = False,
    remove_untagged_enabled: bool = False,
) -> AnnotatorChain:
    def annotate(doc: TokenizedDoc, targets: List[TargetAnnotation]) -> TokenizedDoc:
        config = matcher_config or MatcherConfig(
            use_sub_annotations=True, extend_to_line_enabled=False
        )
        if segment_references:
            SimpleMatcher(targets, config).annotate(doc)
        else:
            SubTagOnlyMatcher(targets, config).annotate(doc)
        ReferencePostProcessor(reference_config).annotate(doc)
        if remove_untagged_enabled:
            remove_untagged_tokens(doc)
        return doc

    return annotate


def _is_address_sub_tag(sub_tag: str) -> bool:
    """auto_annotate_affiliation_address.py:74-77 — includes unknown
    preserved sub tags carrying a namespace."""
    return "address" in sub_tag


def address_group_tag(sub_tag: str) -> Optional[str]:
    """auto_annotate_affiliation_address.py:80-83."""
    if _is_address_sub_tag(sub_tag):
        return "author_aff-address"
    return None


def affiliation_flavor(
    matcher_config: Optional[MatcherConfig] = None,
    segment_affiliations: bool = False,
    remove_untagged_enabled: bool = False,
) -> AnnotatorChain:
    """Affiliation-address flavor (auto_annotate_affiliation_address.py:86-118):
    sub-tag-level matching with preserved sub annotations, optional untagged
    removal, then sub-level group-merge of the address sub fields."""

    def annotate(doc: TokenizedDoc, targets: List[TargetAnnotation]) -> TokenizedDoc:
        config = matcher_config or MatcherConfig(
            use_sub_annotations=True, extend_to_line_enabled=False
        )
        if segment_affiliations:
            SimpleMatcher(targets, config).annotate(doc)
        else:
            SubTagOnlyMatcher(targets, config).annotate(doc)
        if remove_untagged_enabled:
            remove_untagged_tokens(doc)
        merge_group_tags(doc, address_group_tag, sub_level=True)
        return doc

    return annotate


def _sub_tag_flavor(
    matcher_config: Optional[MatcherConfig],
    segment: bool,
) -> AnnotatorChain:
    """Shared figure/table chain (auto_annotate_figure.py:62-88,
    auto_annotate_table.py:58-84): preserve sub annotations, extend-to-line
    off; the segment flag swaps SubTagOnly for the full SimpleMatcher."""

    def annotate(doc: TokenizedDoc, targets: List[TargetAnnotation]) -> TokenizedDoc:
        config = matcher_config or MatcherConfig(
            use_sub_annotations=True, extend_to_line_enabled=False
        )
        if segment:
            SimpleMatcher(targets, config).annotate(doc)
        else:
            SubTagOnlyMatcher(targets, config).annotate(doc)
        return doc

    return annotate


def figure_flavor(
    matcher_config: Optional[MatcherConfig] = None,
    segment_figures: bool = False,
) -> AnnotatorChain:
    return _sub_tag_flavor(matcher_config, segment_figures)


def table_flavor(
    matcher_config: Optional[MatcherConfig] = None,
    segment_tables: bool = False,
) -> AnnotatorChain:
    return _sub_tag_flavor(matcher_config, segment_tables)


def reference_segmenter_flavor(
    matcher_config: Optional[MatcherConfig] = None,
    detect_line_numbers: bool = False,
) -> AnnotatorChain:
    """Reference-segmenter flavor (auto_annotate_reference_segmenter.py:27-46):
    the default annotator stack — optional line-number detection then the
    plain SimpleMatcher; the reference/reference-label fields come from the
    mapping config."""

    def annotate(doc: TokenizedDoc, targets: List[TargetAnnotation]) -> TokenizedDoc:
        if detect_line_numbers:
            annotate_line_numbers(doc)
        SimpleMatcher(targets, matcher_config).annotate(doc)
        return doc

    return annotate


def fulltext_flavor(
    matcher_config: Optional[MatcherConfig] = None,
    replaced_tag_by_tag: Optional[Dict[str, Optional[str]]] = None,
    group_tag_by_tag: Optional[Dict[str, str]] = None,
    expand_previous_tags: Optional[Set[str]] = None,
    expand_following_tags: Optional[Set[str]] = None,
) -> AnnotatorChain:
    replacements = (
        replaced_tag_by_tag if replaced_tag_by_tag is not None else {"note_other": None}
    )
    groups = group_tag_by_tag if group_tag_by_tag is not None else {"list_item": "list"}

    def annotate(doc: TokenizedDoc, targets: List[TargetAnnotation]) -> TokenizedDoc:
        SimpleMatcher(targets, matcher_config).annotate(doc)
        if replacements:
            replace_tags(doc, replacements)
        if groups:
            merge_group_tags(doc, groups.get)
        if expand_previous_tags:
            expand_to_previous_untagged_tokens(doc, expand_previous_tags)
        if expand_following_tags:
            expand_to_following_untagged_tokens(doc, expand_following_tags)
        return doc

    return annotate
