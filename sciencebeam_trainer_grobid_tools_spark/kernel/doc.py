"""Tokenized document model: regex tokenization, whitespace-preserving joins.

Reproduces the reference's token/line semantics:

- tokenization: split on ``(\\W)`` keeping separators, then split camelCase at
  lower->upper transitions, drop empties
  (structured_document/grobid_training_tei.py:224-240);
- whitespace attribution: a token records the single whitespace character that
  immediately followed it, '' when another token follows directly, None at end
  of line (grobid_training_tei.py:158-176); whitespace-only fragments are
  excluded from the matchable token stream (grobid_training_tei.py:618-619);
- joined text for matching: tokens joined with their recorded whitespace
  (None -> single space), the last item of a join contributes none
  (annotation/matching_utils.py:116-142).  The matcher's pending-text model
  (the reference's SequenceWrapper / SequencesText / PendingSequences,
  matching_utils.py:189-333) is the ``MatcherView`` of operators/annotate.py.

The *extracted text* of a document is defined as this token-level
reconstruction (lines joined with '\\n') — the exact string the reference's
matcher observes; byte-identity of this string is the per-url invariant.
"""

from __future__ import annotations

import re
from typing import Iterator, List, Optional, Sequence, Tuple

IndexRange = Tuple[int, int]

_NON_WORD_SPLIT = re.compile(r"(\W)")


def split_camel_case(fragment: str) -> List[str]:
    """Split at lower->upper transitions (grobid_training_tei.py:224-231)."""
    parts: List[str] = []
    start = 0
    for i in range(1, len(fragment)):
        if fragment[i].isupper() and fragment[i - 1].islower():
            parts.append(fragment[start:i])
            start = i
    if start < len(fragment):
        parts.append(fragment[start:])
    return parts


_HAS_UPPER_AFTER_LOWER = re.compile(r"[a-z][A-Z]")


def tokenize_text(text: str) -> List[str]:
    """All fragments (words, separators, single whitespace chars), no empties."""
    out: List[str] = []
    for fragment in _NON_WORD_SPLIT.split(text):
        if not fragment:
            continue
        # camelCase split only applies to fragments with a lower->upper
        # transition; the regex pre-check avoids a python loop per fragment
        if len(fragment) > 1 and _HAS_UPPER_AFTER_LOWER.search(fragment):
            out.extend(split_camel_case(fragment))
        else:
            out.append(fragment)
    return out


class Token:
    """A non-whitespace token with its following whitespace and absolute
    character offsets into the document's extracted text."""

    __slots__ = (
        "text", "whitespace", "tag", "sub_tag", "preserved_tag", "start", "end", "line_index",
    )

    def __init__(
        self,
        text: str,
        whitespace: Optional[str],
        start: int,
        end: int,
        line_index: int,
    ):
        self.text = text
        self.whitespace = whitespace
        self.tag: Optional[str] = None
        self.sub_tag: Optional[str] = None
        self.preserved_tag: Optional[str] = None
        self.start = start
        self.end = end
        self.line_index = line_index

    def effective_whitespace(self) -> str:
        return self.whitespace if self.whitespace is not None else " "

    def __repr__(self) -> str:
        return "Token(%r, ws=%r, tag=%r, @%d:%d)" % (
            self.text,
            self.whitespace,
            self.tag,
            self.start,
            self.end,
        )


class TokenizedDoc:
    """Lines of non-space tokens plus the canonical extracted text."""

    __slots__ = ("lines", "extracted_text")

    def __init__(self, lines: List[List[Token]], extracted_text: str):
        self.lines = lines
        self.extracted_text = extracted_text

    def iter_tokens(self) -> Iterator[Token]:
        for line in self.lines:
            yield from line


def tokenize_lines(text_lines: Sequence[str]) -> TokenizedDoc:
    """Build the token/line model and the canonical extracted text."""
    lines: List[List[Token]] = []
    out_parts: List[str] = []
    pos = 0
    for line_index, raw_line in enumerate(text_lines):
        fragments = tokenize_text(raw_line)
        tokens: List[Token] = []
        # single pass: emit text+whitespace optimistically, then retract the
        # final token's trailing whitespace (a line's last token contributes
        # no whitespace to the reconstruction)
        for i, fragment in enumerate(fragments):
            # separator fragments are single chars ((\W) split), so isspace()
            # is the exact whitespace test — cheaper than strip() per fragment
            if fragment.isspace():
                continue
            nxt = fragments[i + 1] if i + 1 < len(fragments) else None
            if nxt is None:
                ws: Optional[str] = None
            elif nxt.isspace():
                ws = nxt
            else:
                ws = ""
            end = pos + len(fragment)
            tokens.append(Token(fragment, ws, pos, end, line_index))
            # a non-space fragment following directly (ws == "") contributes
            # no join char; otherwise the effective whitespace (None -> " ")
            emit_ws = " " if ws is None else ws
            out_parts.append(fragment + emit_ws)
            pos = end + len(emit_ws)
        if tokens:
            last = tokens[-1]
            trailing = " " if last.whitespace is None else last.whitespace
            if trailing:
                out_parts[-1] = last.text
                pos -= len(trailing)
        lines.append(tokens)
        if line_index + 1 < len(text_lines):
            out_parts.append("\n")
            pos += 1
    return TokenizedDoc(lines, "".join(out_parts))


def join_with_index_ranges(
    item_strings: List[str], whitespace_list: Optional[List[Optional[str]]], sep: str
) -> Tuple[str, List[IndexRange]]:
    """Join item strings with per-item whitespace (None -> sep; last item '')
    and return each item's index range in the joined string
    (matching_utils.py:116-142)."""
    if whitespace_list is None:
        # constant separator: one C-level join, ranges from a running sum;
        # identical output to the general loop below by construction
        ranges = []
        append = ranges.append
        pos = 0
        sep_len = len(sep)
        for s in item_strings:
            end = pos + len(s)
            append((pos, end))
            pos = end + sep_len
        return sep.join(item_strings), ranges
    parts: List[str] = []
    ranges = []
    pos = 0
    n = len(item_strings)
    for i, s in enumerate(item_strings):
        ranges.append((pos, pos + len(s)))
        parts.append(s)
        pos += len(s)
        if i + 1 < n:
            ws = sep
            if whitespace_list[i] is not None:
                ws = whitespace_list[i]  # type: ignore[assignment]
            parts.append(ws)
            pos += len(ws)
    return "".join(parts), ranges


def join_tokens_text(tokens: List[Token]) -> str:
    """Single-space join of token texts (matching_utils.py:105-106)."""
    return " ".join(t.text for t in tokens)
