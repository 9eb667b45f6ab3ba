"""Tag post-processing annotators (ordered carry scans over the token stream).

Ports of the reference's small post-processing annotators, each an ordered
pass over the document's non-space tokens:

- ExpandToPreviousUntaggedLines (W3): an untagged run before an enabled tag
  adopts that tag with B-/I- prefixes, the anchor token flips to I-
  (annotation/expand_to_untagged_lines_annotator.py:33-72).
- ExpandToFollowingUntaggedLines (W4): untagged tokens after an enabled tag
  adopt I- of it (expand_to_untagged_lines_annotator.py:86-122).
- MergeGroupTags (W5): untagged tokens between entities whose tags map to the
  same group get ``i-<group>`` (merge_group_tags_annotator.py:35-69); with
  ``sub_level=True`` operates on sub-tags of main-tagged tokens.
- ReplaceTags: map tag values, preserving the B/I prefix
  (replace_tags_annotator.py:26-52).
- RemoveUntagged: drop untagged tokens/lines from the document
  (remove_untagged_annotator.py:12-16, grobid_training_tei.py:707-723).
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional, Set

from ..kernel.doc import TokenizedDoc
from .annotate import B_PREFIX, I_PREFIX, add_tag_prefix, split_tag_prefix, strip_tag_prefix


def _tags_or_preserved(doc: TokenizedDoc) -> List[Optional[str]]:
    return [tag or preserved for tag, preserved in zip(doc.tags, doc.preserved_tags)]


def expand_to_previous_untagged_tokens(
    doc: TokenizedDoc, enabled_tags: Set[str]
) -> TokenizedDoc:
    tags = doc.tags
    previous_untagged: List[int] = []
    for i, tag in enumerate(_tags_or_preserved(doc)):
        tag_value = strip_tag_prefix(tag)
        if not tag_value:
            previous_untagged.append(i)
            continue
        if not previous_untagged:
            continue
        if tag_value not in enabled_tags:
            previous_untagged.clear()
            continue
        for index, untagged in enumerate(previous_untagged):
            tags[untagged] = add_tag_prefix(tag_value, B_PREFIX if index == 0 else I_PREFIX)
        tags[i] = add_tag_prefix(tag_value, I_PREFIX)
        previous_untagged.clear()
    return doc


def expand_to_following_untagged_tokens(
    doc: TokenizedDoc, enabled_tags: Set[str]
) -> TokenizedDoc:
    tags = doc.tags
    previous_enabled_tag: Optional[str] = None
    for i, tag in enumerate(_tags_or_preserved(doc)):
        tag_value = strip_tag_prefix(tag)
        if tag_value:
            previous_enabled_tag = tag_value if tag_value in enabled_tags else None
            continue
        if not previous_enabled_tag:
            continue
        tags[i] = add_tag_prefix(previous_enabled_tag, I_PREFIX)
    return doc


def merge_group_tags(
    doc: TokenizedDoc,
    get_group_tag: Callable[[str], Optional[str]],
    sub_level: bool = False,
) -> TokenizedDoc:
    target = doc.sub_tags if sub_level else doc.tags
    current_group_tag: Optional[str] = None
    for i, tag in enumerate(_tags_or_preserved(doc)):
        if sub_level:
            if not tag:
                continue
            tag_value = strip_tag_prefix(doc.sub_tags[i])
        else:
            tag_value = strip_tag_prefix(tag)
        if tag_value:
            current_group_tag = get_group_tag(tag_value)
            continue
        if not current_group_tag:
            continue
        target[i] = add_tag_prefix(current_group_tag, I_PREFIX)
    return doc


def replace_tags(doc: TokenizedDoc, replaced_tag_by_tag: Dict[str, Optional[str]]) -> TokenizedDoc:
    for i, tag in enumerate(_tags_or_preserved(doc)):
        prefix, tag_value = split_tag_prefix(tag)
        if not tag_value or tag_value not in replaced_tag_by_tag:
            continue
        doc.tags[i] = add_tag_prefix(replaced_tag_by_tag[tag_value], prefix)
    return doc


def remove_untagged_tokens(doc: TokenizedDoc) -> TokenizedDoc:
    """Drop untagged tokens (and then-empty lines); offsets keep pointing at
    the original extracted text."""
    doc.keep([i for i, tag in enumerate(_tags_or_preserved(doc)) if tag])
    return doc
