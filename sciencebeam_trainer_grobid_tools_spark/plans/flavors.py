"""Annotator chains of the auto-annotate flavors (SURVEY.md §3).

This module is the one place an annotator chain is written: the flavor CLIs
(``cli/auto_annotate_*``), the flagship row kernel
(``plans.pipeline.annotate_document_row``) and the gate queries all build
their chain here.  Each reference ``auto_annotate_<flavor>`` module is the
same skeleton with a different annotator chain + tag->TEI mapping; here each
flavor is a function ``TokenizedDoc + targets -> TokenizedDoc`` composing
the engine's operators:

- default (header, reference-segmenter, the row kernel): [line numbers ->]
                 SimpleMatcher or the complex MatchingAnnotator —
                 auto_annotate_utils.py:488-514
- segmentation:  the default stack -> SegmentationAnnotator —
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

The flavor callable plugs into ``annotate_documents`` as the per-document
kernel's annotator chain.  The row kernel imports this module at start-up,
so each flavor imports the operators it adds to the simple matcher when it
builds its chain.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Callable, Dict, List, Optional, Set

from ..kernel.doc import TokenizedDoc
from ..operators.annotate import (
    MatcherConfig,
    SimpleMatcher,
    SubTagOnlyMatcher,
    TargetAnnotation,
)

if TYPE_CHECKING:
    from ..operators.matching import MatchingAnnotatorConfig
    from ..operators.reference import ReferenceAnnotatorConfig
    from ..operators.segmentation import SegmentationConfig

AnnotatorChain = Callable[[TokenizedDoc, List[TargetAnnotation]], TokenizedDoc]


def default_flavor(
    matcher_config: Optional[MatcherConfig] = None,
    line_numbers: Optional[Dict[str, Any]] = None,
    complex_config: Optional[Callable[[], MatchingAnnotatorConfig]] = None,
) -> AnnotatorChain:
    """The default annotator stack (auto_annotate_utils.py:488-514).

    ``line_numbers``: keyword arguments of ``annotate_line_numbers``, which
    runs first when given.  ``complex_config``: a zero-argument factory of
    the complex matcher's config, called once per document; when given, the
    ``MatchingAnnotator`` runs instead of ``SimpleMatcher(matcher_config)``."""
    if line_numbers is not None:
        from ..operators.line_numbers import annotate_line_numbers
    if complex_config is not None:
        from ..operators.matching import MatchingAnnotator

    def annotate(doc: TokenizedDoc, targets: List[TargetAnnotation]) -> TokenizedDoc:
        if line_numbers is not None:
            annotate_line_numbers(doc, **line_numbers)
        if complex_config is not None:
            MatchingAnnotator(targets, complex_config()).annotate(doc)
        else:
            SimpleMatcher(targets, matcher_config).annotate(doc)
        return doc

    return annotate


def segmentation_flavor(
    matcher_config: Optional[MatcherConfig] = None,
    segmentation_config: Optional[SegmentationConfig] = None,
    preserve_tags: bool = False,
    line_numbers: Optional[Dict[str, Any]] = None,
    complex_config: Optional[Callable[[], MatchingAnnotatorConfig]] = None,
) -> AnnotatorChain:
    """The default stack (see ``default_flavor``), then segmentation."""
    from ..operators.segmentation import (
        DEFAULT_SEGMENTATION_CONFIG_TEXT,
        SegmentationAnnotator,
        parse_segmentation_config_string,
    )

    seg_config = segmentation_config or parse_segmentation_config_string(
        DEFAULT_SEGMENTATION_CONFIG_TEXT
    )
    match = default_flavor(matcher_config, line_numbers, complex_config)

    def annotate(doc: TokenizedDoc, targets: List[TargetAnnotation]) -> TokenizedDoc:
        match(doc, targets)
        SegmentationAnnotator(seg_config, preserve_tags=preserve_tags).annotate(doc)
        return doc

    return annotate


def _sub_tag_flavor(
    matcher_config: Optional[MatcherConfig],
    segment: bool,
) -> AnnotatorChain:
    """The matcher of the reference, affiliation, figure and table chains
    (auto_annotate_figure.py:62-88, auto_annotate_table.py:58-84):
    sub annotations on, extend-to-line off by default; the segment flag
    swaps SubTagOnly for the full SimpleMatcher."""
    config = matcher_config or MatcherConfig(
        use_sub_annotations=True, extend_to_line_enabled=False
    )
    matcher = SimpleMatcher if segment else SubTagOnlyMatcher

    def annotate(doc: TokenizedDoc, targets: List[TargetAnnotation]) -> TokenizedDoc:
        matcher(targets, config).annotate(doc)
        return doc

    return annotate


def reference_flavor(
    matcher_config: Optional[MatcherConfig] = None,
    reference_config: Optional[ReferenceAnnotatorConfig] = None,
    segment_references: bool = False,
    remove_untagged_enabled: bool = False,
) -> AnnotatorChain:
    from ..operators.postprocess import remove_untagged_tokens
    from ..operators.reference import ReferencePostProcessor

    match = _sub_tag_flavor(matcher_config, segment_references)

    def annotate(doc: TokenizedDoc, targets: List[TargetAnnotation]) -> TokenizedDoc:
        match(doc, targets)
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
    from ..operators.postprocess import merge_group_tags, remove_untagged_tokens

    match = _sub_tag_flavor(matcher_config, segment_affiliations)

    def annotate(doc: TokenizedDoc, targets: List[TargetAnnotation]) -> TokenizedDoc:
        match(doc, targets)
        if remove_untagged_enabled:
            remove_untagged_tokens(doc)
        merge_group_tags(doc, address_group_tag, sub_level=True)
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


def fulltext_flavor(
    matcher_config: Optional[MatcherConfig] = None,
    replaced_tag_by_tag: Optional[Dict[str, Optional[str]]] = None,
    group_tag_by_tag: Optional[Dict[str, str]] = None,
    expand_previous_tags: Optional[Set[str]] = None,
    expand_following_tags: Optional[Set[str]] = None,
) -> AnnotatorChain:
    from ..operators.postprocess import (
        expand_to_following_untagged_tokens,
        expand_to_previous_untagged_tokens,
        merge_group_tags,
        replace_tags,
    )

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
