"""Segmentation annotator: re-label whole lines into segment classes.

Reproduces ``annotation/segmentation_annotator.py`` of the reference:

- per-line majority vote over token tag values mapped through the
  segmentation config (A2);
- front-block threshold: clear ``front`` blocks starting after a line index
  (W8);
- missing page-number inference between known page-number lines (W9);
- page-header (headnote) detection by repeated untagged line text (A3);
- line-merge FSM: untagged runs adopt the previous enabled segment tag when
  the following tagged line agrees; trailing runs may become ``annex`` (W7);
- untagged lines default to ``body``.

Works on the engine's TokenizedDoc; segment tags are written un-prefixed to
every token of the line (reference: segmentation_annotator.py:106-112).
"""

from __future__ import annotations

import configparser
import re
from collections import Counter
from typing import Dict, List, Optional, Set

from ..kernel.doc import TokenizedDoc
from .annotate import strip_tag_prefix


class SegmentTags:
    FRONT = "front"
    PAGE = "page"
    HEADNOTE = "headnote"
    BODY = "body"
    REFERENCE = "reference"
    ANNEX = "annex"


DEFAULT_FRONT_MAX_START_LINE_INDEX = 0
DEFAULT_PAGE_HEADER_MAX_FIRST_LINE_INDEX = 50

# default mapping mirroring config/segmentation.conf of the reference
DEFAULT_SEGMENTATION_CONFIG_TEXT = """
[tags]
front = title, abstract, author, author_aff, keywords
body = section_title, section_paragraph, figure, table
reference = reference
annex = appendix
page = page_no
"""


class SegmentationConfig:
    def __init__(
        self,
        segmentation_mapping: Dict[str, Set[str]],
        front_max_start_line_index: int = DEFAULT_FRONT_MAX_START_LINE_INDEX,
        page_header_max_first_line_index: int = DEFAULT_PAGE_HEADER_MAX_FIRST_LINE_INDEX,
        no_merge_references: bool = False,
    ):
        self.segmentation_mapping = segmentation_mapping
        self.front_max_start_line_index = front_max_start_line_index
        self.page_header_max_first_line_index = page_header_max_first_line_index
        self.no_merge_references = no_merge_references


def parse_segmentation_config_string(config_text: str) -> SegmentationConfig:
    parser = configparser.ConfigParser(interpolation=None)
    parser.read_string(config_text)
    front_max = parser.getint(
        "config", "front_max_start_line_index", fallback=DEFAULT_FRONT_MAX_START_LINE_INDEX
    )
    header_max = parser.getint(
        "config",
        "page_header_max_first_line_index",
        fallback=DEFAULT_PAGE_HEADER_MAX_FIRST_LINE_INDEX,
    )
    return SegmentationConfig(
        segmentation_mapping={
            key: {v.strip() for v in value.split(",") if v.strip()}
            for key, value in parser.items("tags")
        },
        front_max_start_line_index=front_max,
        page_header_max_first_line_index=header_max,
    )


class _SegLine:
    __slots__ = ("doc", "tokens", "line_index", "segmentation_tag", "text")

    def __init__(self, doc: TokenizedDoc, tokens: range, line_index: int):
        self.doc = doc
        self.tokens = tokens
        self.line_index = line_index
        self.segmentation_tag: Optional[str] = None
        # single-space join of the token texts (matching_utils.py:105-106)
        self.text = " ".join(doc.texts[tokens.start : tokens.stop])

    def tags_or_preserved(self) -> List[Optional[str]]:
        doc = self.doc
        return [doc.tags[i] or doc.preserved_tags[i] for i in self.tokens]

    def set_segmentation_tag(self, tag: Optional[str]) -> None:
        self.segmentation_tag = tag
        self.doc.tags[self.tokens.start : self.tokens.stop] = [tag] * len(self.tokens)

    def clear(self) -> None:
        self.set_segmentation_tag(None)


def _majority_value(values: List[Optional[str]]) -> Optional[str]:
    counts = Counter(values)
    return counts.most_common(1)[0][0] if counts else None


def _clear_late_front_blocks(lines: List[_SegLine], max_start: int) -> None:
    if not max_start:
        return
    block_tag: Optional[str] = None
    block_start = 0
    for line in lines:
        if line.segmentation_tag != block_tag:
            block_tag = line.segmentation_tag
            block_start = line.line_index
        if block_tag == SegmentTags.FRONT and block_start > max_start:
            line.clear()


def _is_page_number(text: str) -> bool:
    return re.match(r"^\d+$", text) is not None


def _find_missing_page_numbers(lines: List[_SegLine]) -> None:
    """Promote untagged all-digit lines whose numbers fit monotonically
    between known page-number lines (segmentation_annotator.py:259-298)."""
    existing = [
        (int(line.text) if _is_page_number(line.text) else -1, line)
        for line in lines
        if line.segmentation_tag == SegmentTags.PAGE
    ]
    candidates = [
        (int(line.text), line)
        for line in lines
        if not line.segmentation_tag and _is_page_number(line.text)
    ]
    min_line = 0
    min_page = 1
    for page_number, page_line in existing:
        max_line = page_line.line_index
        max_page = page_number - 1
        for candidate_page, candidate_line in candidates:
            if candidate_line.line_index < min_line or candidate_line.line_index > max_line:
                continue
            if candidate_page < min_page or candidate_page > max_page:
                continue
            candidate_line.set_segmentation_tag(SegmentTags.PAGE)
            min_page += 1
        min_line = max_line
        min_page = max_page + 1


def _is_page_header_candidate(text: str, count: int, min_count: Optional[int]) -> bool:
    if count < (min_count if min_count is not None else 2):
        return False
    if re.match(r"^(\d|\s|\.)+$", text):
        return False
    if len(re.split(r"\s", text)) < 2:
        return False
    return True


def _find_and_tag_page_headers(lines: List[_SegLine], max_first_line_index: int) -> None:
    """Repeated untagged line text -> headnote (segmentation_annotator.py:320-350)."""
    untagged_counts = Counter(
        line.text for line in lines if not line.segmentation_tag
    )
    if not untagged_counts:
        return
    min_count: Optional[int] = None
    for text, count in untagged_counts.most_common():
        if not _is_page_header_candidate(text, count, min_count):
            continue
        first_line_index = -1
        for line in lines:
            if line.text == text:
                first_line_index = line.line_index
                break
        if first_line_index >= max_first_line_index:
            continue
        if min_count is None:
            min_count = max(2, count - 1)
        for line in lines:
            if line.text == text:
                line.set_segmentation_tag(SegmentTags.HEADNOTE)


def _apply_preserved_page_numbers(lines: List[_SegLine]) -> None:
    """Untagged lines containing a preserved 'page' tag become page lines
    (segmentation_annotator.py:232-240)."""
    for line in lines:
        if line.segmentation_tag:
            continue
        if SegmentTags.PAGE in line.tags_or_preserved():
            line.set_segmentation_tag(SegmentTags.PAGE)


def _merge_lines(
    lines: List[_SegLine],
    enabled_tags: Set[str],
    enabled_remaining_tags: Set[str],
    preserve_tags: bool = False,
) -> None:
    """FSM adopting untagged runs into the following enabled segment block
    (segmentation_annotator.py:353-399)."""
    candidates: List[_SegLine] = []
    previous_tag: Optional[str] = SegmentTags.FRONT
    ignored = {SegmentTags.HEADNOTE, SegmentTags.PAGE}
    for line in lines:
        if line.segmentation_tag in ignored:
            continue
        if line.segmentation_tag:
            if previous_tag != line.segmentation_tag:
                candidates = []
            previous_tag = line.segmentation_tag
        if line.segmentation_tag in enabled_tags:
            for candidate in candidates:
                candidate.set_segmentation_tag(line.segmentation_tag)
            candidates = []
            continue
        if line.segmentation_tag:
            candidates = []
            continue
        if preserve_tags and SegmentTags.PAGE in line.tags_or_preserved():
            continue
        if previous_tag in enabled_tags:
            candidates.append(line)
    if candidates and previous_tag in enabled_remaining_tags:
        for candidate in candidates:
            candidate.set_segmentation_tag(previous_tag)


class SegmentationAnnotator:
    """Port of SegmentationAnnotator.annotate (segmentation_annotator.py:402-474)."""

    def __init__(self, config: SegmentationConfig, preserve_tags: bool = False):
        self.config = config
        self.preserve_tags = preserve_tags
        self.segment_tag_by_tag = {
            tag_name: segment_tag
            for segment_tag, tag_names in config.segmentation_mapping.items()
            for tag_name in tag_names
        }

    def annotate(self, doc: TokenizedDoc) -> TokenizedDoc:
        lines = [_SegLine(doc, tokens, i) for i, tokens in enumerate(doc.lines)]
        for line in lines:
            tag_values = [strip_tag_prefix(doc.tags[i]) for i in line.tokens]
            if not tag_values:
                continue
            majority = _majority_value(tag_values)
            segment_tag = self.segment_tag_by_tag.get(majority) if majority else None
            if segment_tag and segment_tag == majority:
                if not self.config.no_merge_references:
                    line.set_segmentation_tag(segment_tag)
            elif segment_tag:
                line.set_segmentation_tag(segment_tag)
            elif majority is None:
                line.clear()
            line.segmentation_tag = segment_tag or majority
        _clear_late_front_blocks(lines, self.config.front_max_start_line_index)
        if self.preserve_tags:
            _apply_preserved_page_numbers(lines)
        _find_missing_page_numbers(lines)
        _find_and_tag_page_headers(lines, self.config.page_header_max_first_line_index)
        enabled_tags = {SegmentTags.FRONT, SegmentTags.ANNEX}
        if not self.config.no_merge_references:
            enabled_tags.add(SegmentTags.REFERENCE)
        _merge_lines(
            lines, enabled_tags, {SegmentTags.ANNEX}, preserve_tags=self.preserve_tags
        )
        if not self.preserve_tags:
            for line in lines:
                if not line.segmentation_tag:
                    line.set_segmentation_tag(SegmentTags.BODY)
        return doc
