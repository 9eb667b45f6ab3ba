"""Reference (bibliography) sub-field post-processing.

Port of the reference's ``annotation/reference_annotator.py`` (W6): per
tagged entity (consecutive same-tag tokens, split at B- prefixes), in order:

1. et-al merge: an ``etal`` sub-entity directly after an author/editor
   sub-entity is absorbed into it (reference_annotator.py:290-338);
2. name suffix: a leading '.' in the untagged run after an author/editor
   sub-entity is absorbed as I- of it (reference_annotator.py:209-262);
3. idno prefix: a trailing label like ``DOI:`` in the untagged run before an
   idno sub-entity becomes the idno's B- start (reference_annotator.py:114-206);
4. sub-tag gap merge: untagged gaps between same-value sub-entities filled
   via the extend-to-line machinery with merge-only semantics
   (reference_annotator.py:341-365).

Default configuration mirrors auto_annotate_reference.py:77-135.
"""

from __future__ import annotations

import re
from itertools import groupby
from typing import Dict, Iterator, List, Optional, Set, Tuple

from ..kernel.doc import TokenizedDoc, join_with_index_ranges
from .annotate import (
    B_PREFIX,
    add_tag_prefix,
    get_extended_line_token_tags,
    split_tag_prefix,
    strip_tag_prefix,
    to_inside_tag,
)

DEFAULT_IDNO_PREFIX_REGEX = r"\b[a-zA-Z]{2,}(\s?:)?$"

DEFAULT_SUB_TAG_MAP = {
    "reference-fpage": "reference-page",
    "reference-lpage": "reference-page",
}

DEFAULT_MERGE_ENABLED_SUB_TAGS = {
    "reference-author",
    "reference-editor",
    "reference-issue",
    "reference-page",
}

NAME_SUFFIX_ENABLED_SUB_TAGS = {"reference-author", "reference-editor"}

IDNO_PREFIX_REGEX_MAP = {
    "reference-issn": DEFAULT_IDNO_PREFIX_REGEX,
    "reference-isbn": DEFAULT_IDNO_PREFIX_REGEX,
    "reference-doi": r"(?i)\bDOI(\s?:)?$",
    "reference-pii": r"(?i)\bPII(\s?:)?$",
    "reference-pmid": DEFAULT_IDNO_PREFIX_REGEX,
    "reference-pmcid": DEFAULT_IDNO_PREFIX_REGEX,
    "reference-arxiv": DEFAULT_IDNO_PREFIX_REGEX,
}

ETAL_SUB_TAG = "reference-etal"
ETAL_MERGE_ENABLED_SUB_TAGS = {"reference-author", "reference-editor"}


class ReferenceAnnotatorConfig:
    def __init__(
        self,
        sub_tag_map: Dict[str, str],
        merge_enabled_sub_tags: Set[str],
        include_prefix_enabled_sub_tags: Set[str],
        include_suffix_enabled_sub_tags: Set[str],
        prefix_regex_by_sub_tag_map: Dict[str, str],
        etal_sub_tag: str,
        etal_merge_enabled_sub_tags: Set[str],
    ):
        self.sub_tag_map = sub_tag_map
        self.merge_enabled_sub_tags = merge_enabled_sub_tags
        self.include_prefix_enabled_sub_tags = include_prefix_enabled_sub_tags
        self.include_suffix_enabled_sub_tags = include_suffix_enabled_sub_tags
        self.prefix_regex_by_sub_tag_map = prefix_regex_by_sub_tag_map
        self.etal_sub_tag = etal_sub_tag
        self.etal_merge_enabled_sub_tags = etal_merge_enabled_sub_tags


def default_reference_annotator_config() -> ReferenceAnnotatorConfig:
    return ReferenceAnnotatorConfig(
        sub_tag_map=dict(DEFAULT_SUB_TAG_MAP),
        merge_enabled_sub_tags=set(DEFAULT_MERGE_ENABLED_SUB_TAGS),
        include_prefix_enabled_sub_tags=set(),
        include_suffix_enabled_sub_tags=set(NAME_SUFFIX_ENABLED_SUB_TAGS),
        prefix_regex_by_sub_tag_map=dict(IDNO_PREFIX_REGEX_MAP),
        etal_sub_tag=ETAL_SUB_TAG,
        etal_merge_enabled_sub_tags=set(ETAL_MERGE_ENABLED_SUB_TAGS),
    )


def iter_entity_token_groups(
    tags: List[Optional[str]],
) -> Iterator[Tuple[Optional[str], List[int]]]:
    """Group consecutive token indices by main-tag value, splitting at B-
    prefixes (reference_annotator.py:73-96)."""
    pending_value: Optional[str] = None
    pending: Optional[List[int]] = None
    for token, tag in enumerate(tags):
        prefix, value = split_tag_prefix(tag)
        if pending and (pending_value != value or prefix == B_PREFIX):
            yield pending_value, pending
            pending = None
        if not pending:
            pending_value = value
            pending = [token]
            continue
        pending.append(token)
    if pending:
        yield pending_value, pending


def _map_tag(tag: Optional[str], tag_map: Dict[str, str]) -> Optional[str]:
    prefix, value = split_tag_prefix(tag)
    return add_tag_prefix(tag_map.get(value, value) if value else value, prefix=prefix)


def _grouped(
    tags: List[Optional[str]], texts: List[str], whitespaces: List[Optional[str]]
) -> List[List[Tuple[Optional[str], str, Optional[str]]]]:
    return [
        list(group)
        for _, group in groupby(
            zip(tags, texts, whitespaces), key=lambda item: strip_tag_prefix(item[0])
        )
    ]


def _items_overlapping(
    ranges: List[Tuple[int, int]], start: int, end: int
) -> List[int]:
    return [
        i
        for i, (r_start, r_end) in enumerate(ranges)
        if r_start < end and r_end > start
    ]


def get_prefix_extended_token_tags(
    token_tags: List[Optional[str]],
    token_texts: List[str],
    prefix_regex_by_tag_map: Dict[str, str],
    token_whitespaces: Optional[List[Optional[str]]] = None,
    enabled_tags: Optional[Set[str]] = None,
) -> List[Optional[str]]:
    """Absorb a textual prefix (e.g. ``DOI:``) from the untagged run before an
    enabled tag into that tag (reference_annotator.py:114-180)."""
    if token_whitespaces is None:
        token_whitespaces = [" "] * len(token_texts)
    enabled = (
        enabled_tags if enabled_tags is not None else set(prefix_regex_by_tag_map.keys())
    )
    groups = _grouped(token_tags, token_texts, token_whitespaces)
    result: List[Optional[str]] = []
    for index, group in enumerate(groups):
        group_tags = [g[0] for g in group]
        group_texts = [g[1] for g in group]
        group_whitespaces = [g[2] for g in group]
        next_group = groups[index + 1] if index + 1 < len(groups) else None
        first_next_tag = next_group[0][0] if next_group else None
        next_prefix, next_value = split_tag_prefix(first_next_tag)
        if group_tags[0] or next_value not in enabled:
            result.extend(group_tags)
            continue
        joined, ranges = join_with_index_ranges(group_texts, group_whitespaces, sep=" ")
        m = re.search(prefix_regex_by_tag_map[next_value], joined)
        if not m:
            result.extend(group_tags)
            continue
        matching = _items_overlapping(ranges, m.start(), len(joined))
        if not matching:
            result.extend(group_tags)
            continue
        unmatched_count = len(group_tags) - len(matching)
        result.extend([None] * unmatched_count)
        result.append(first_next_tag)
        result.extend([to_inside_tag(first_next_tag)] * (len(matching) - 1))
        if next_prefix == B_PREFIX and next_group is not None:
            next_group[0] = (to_inside_tag(first_next_tag), *next_group[0][1:])
    return result


def get_suffix_extended_token_tags(
    token_tags: List[Optional[str]],
    token_texts: List[str],
    enabled_tags: Set[str],
    token_whitespaces: Optional[List[Optional[str]]] = None,
) -> List[Optional[str]]:
    """Absorb a leading '.' after an enabled tag into it
    (reference_annotator.py:209-262)."""
    if token_whitespaces is None:
        token_whitespaces = [" "] * len(token_texts)
    groups = _grouped(token_tags, token_texts, token_whitespaces)
    result: List[Optional[str]] = []
    for index, group in enumerate(groups):
        group_tags = [g[0] for g in group]
        group_texts = [g[1] for g in group]
        group_whitespaces = [g[2] for g in group]
        prev_group = groups[index - 1] if index > 0 else None
        first_prev_tag = prev_group[0][0] if prev_group else None
        _, prev_value = split_tag_prefix(first_prev_tag)
        if group_tags[0] or prev_value not in enabled_tags:
            result.extend(group_tags)
            continue
        joined, ranges = join_with_index_ranges(group_texts, group_whitespaces, sep=" ")
        m = re.search(r"^\.", joined)
        if not m:
            result.extend(group_tags)
            continue
        matching = _items_overlapping(ranges, 0, m.end())
        if not matching:
            result.extend(group_tags)
            continue
        unmatched_count = len(group_tags) - len(matching)
        result.extend([to_inside_tag(first_prev_tag)] * len(matching))
        result.extend([None] * unmatched_count)
    return result


def get_etal_mapped_tags(
    token_tags: List[Optional[str]],
    etal_sub_tag: str,
    etal_merge_enabled_sub_tags: Set[str],
) -> List[Optional[str]]:
    """Merge an et-al sub-entity into the preceding author/editor entity
    (reference_annotator.py:290-316)."""
    groups = [list(group) for _, group in groupby(token_tags, key=strip_tag_prefix)]
    result: List[Optional[str]] = []
    previous_accepted: Optional[str] = None
    for group in groups:
        group_tag = group[0]
        group_value = strip_tag_prefix(group_tag)
        if group_value != etal_sub_tag or not previous_accepted:
            result.extend(group)
            if group_value in etal_merge_enabled_sub_tags:
                previous_accepted = group_tag
            elif group_tag:
                previous_accepted = None
            continue
        result.append(previous_accepted)
        result.extend([to_inside_tag(previous_accepted)] * (len(group) - 1))
    return result


class ReferencePostProcessor:
    """Port of ReferencePostProcessingAnnotator (reference_annotator.py:368-402)."""

    def __init__(self, config: Optional[ReferenceAnnotatorConfig] = None):
        self.config = config or default_reference_annotator_config()

    def _apply_sub_tags(
        self, doc: TokenizedDoc, tokens: List[int], new_tags: List[Optional[str]]
    ) -> None:
        for token, sub_tag in zip(tokens, new_tags):
            if sub_tag:
                doc.sub_tags[token] = sub_tag

    def annotate(self, doc: TokenizedDoc) -> TokenizedDoc:
        config = self.config
        sub_tags = doc.sub_tags
        for _value, entity_tokens in iter_entity_token_groups(doc.tags):
            texts = [doc.texts[i] for i in entity_tokens]
            whitespaces = [doc.whitespace[i] for i in entity_tokens]
            # 1. et-al merge
            mapped = [_map_tag(sub_tags[i], config.sub_tag_map) for i in entity_tokens]
            self._apply_sub_tags(
                doc,
                entity_tokens,
                get_etal_mapped_tags(
                    mapped, config.etal_sub_tag, config.etal_merge_enabled_sub_tags
                ),
            )
            # 2. name suffix absorption
            mapped = [_map_tag(sub_tags[i], config.sub_tag_map) for i in entity_tokens]
            self._apply_sub_tags(
                doc,
                entity_tokens,
                get_suffix_extended_token_tags(
                    mapped,
                    texts,
                    enabled_tags=config.include_suffix_enabled_sub_tags,
                    token_whitespaces=whitespaces,
                ),
            )
            # 3. idno prefix absorption
            mapped = [_map_tag(sub_tags[i], config.sub_tag_map) for i in entity_tokens]
            self._apply_sub_tags(
                doc,
                entity_tokens,
                get_prefix_extended_token_tags(
                    mapped,
                    texts,
                    prefix_regex_by_tag_map=config.prefix_regex_by_sub_tag_map,
                    token_whitespaces=whitespaces,
                    enabled_tags=config.include_prefix_enabled_sub_tags,
                ),
            )
            # 4. sub-tag gap merge
            mapped = [_map_tag(sub_tags[i], config.sub_tag_map) for i in entity_tokens]
            self._apply_sub_tags(
                doc,
                entity_tokens,
                get_extended_line_token_tags(
                    mapped,
                    extend_to_line_enabled_map={},
                    merge_enabled_map={key: True for key in config.merge_enabled_sub_tags},
                    default_merge_enabled=False,
                    default_extend_to_line_enabled=False,
                ),
            )
        return doc
