"""Line-number detection (A4).

Port of the reference's ``annotation/line_number_annotator.py``: candidates
are the first token of each line when it parses as a positive int; sorted by
(number, position) and greedily split into ascending runs allowing a gap of
up to ``max_gap``; runs of at least ``min_count`` accepted, subject to a
minimum candidate/lines ratio (guards against tables of numbers).
"""

from __future__ import annotations

from typing import List, Optional

from ..kernel.doc import TokenizedDoc

DEFAULT_MIN_LINE_NUMBER_COUNT = 10
DEFAULT_MAX_LINE_NUMBER_GAP = 10
DEFAULT_LINE_NUMBER_RATIO_THRESHOLD = 0.1
DEFAULT_LINE_NO_TAG = "line_no"


def _parse_positive_int(text: str) -> Optional[int]:
    try:
        value = int(text)
    except ValueError:
        return None
    return value if value > 0 else None


def find_line_number_tokens(
    doc: TokenizedDoc,
    min_count: int = DEFAULT_MIN_LINE_NUMBER_COUNT,
    max_gap: int = DEFAULT_MAX_LINE_NUMBER_GAP,
    ratio_threshold: float = DEFAULT_LINE_NUMBER_RATIO_THRESHOLD,
) -> List[int]:
    """Indices of the accepted line-number tokens."""
    bounds = doc.line_starts
    first_tokens = [a for a, b in zip(bounds, bounds[1:]) if a < b]
    candidates = [
        (token, value, 1 + index)
        for index, token in enumerate(first_tokens)
        if (value := _parse_positive_int(doc.texts[token])) is not None
    ]
    if not candidates:
        return []
    candidates.sort(key=lambda item: (item[1], item[2]))
    sequences: List[List] = [[candidates[0]]]
    for item in candidates[1:]:
        _, num, pos = item
        _, prev_num, prev_pos = sequences[-1][-1]
        expected = prev_num + 1
        if pos < prev_pos or num == prev_num:
            continue  # out of sequence
        if expected <= num <= expected + max_gap:
            sequences[-1].append(item)
        else:
            sequences.append([item])
    accepted = [token for seq in sequences if len(seq) >= min_count for token, _, _ in seq]
    if len(accepted) < min_count:
        return []
    if len(accepted) / len(first_tokens) < ratio_threshold:
        return []
    return accepted


def annotate_line_numbers(
    doc: TokenizedDoc,
    tag: str = DEFAULT_LINE_NO_TAG,
    min_count: int = DEFAULT_MIN_LINE_NUMBER_COUNT,
    max_gap: int = DEFAULT_MAX_LINE_NUMBER_GAP,
    ratio_threshold: float = DEFAULT_LINE_NUMBER_RATIO_THRESHOLD,
) -> TokenizedDoc:
    for token in find_line_number_tokens(
        doc, min_count=min_count, max_gap=max_gap, ratio_threshold=ratio_threshold
    ):
        doc.tags[token] = tag
    return doc
