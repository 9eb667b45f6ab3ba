"""Tokenized document model: parallel per-token columns plus line offsets.

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

The reference's structured document holds one token object per token
(grobid_training_tei.py:158-176,234-240); here those records are flat
columns.  Token ``i`` is index ``i`` of ``texts``, ``whitespace``,
``starts``/``ends`` (offsets into the extracted text), ``tags``,
``sub_tags`` and ``preserved_tags`` (tag levels 1 and 2, preserved tag).
Line ``k`` is ``range(line_starts[k], line_starts[k + 1])``; a line's
tokens joined with their whitespace are its slice of the extracted text.

The *extracted text* of a document is defined as this token-level
reconstruction (lines joined with '\\n') — the exact string the reference's
matcher observes; byte-identity of this string is the per-url invariant.
"""

from __future__ import annotations

import re
from bisect import bisect_left
from itertools import accumulate
from operator import add
from typing import List, Optional, Sequence, Tuple

IndexRange = Tuple[int, int]

_NON_WORD_SPLIT = re.compile(r"(\W)")
# a token (a word run or one non-space separator) and the whitespace character
# right after it, if any: '\s' and str.isspace() agree on every code point, so
# this is the (\W) split with whitespace fragments attached to their token
_TOKEN_WS = re.compile(r"(\w+|[^\w\s])(\s?)")
_ASCII_CAMEL = re.compile(r"[a-z][A-Z]")


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


def tokenize_text(text: str) -> List[str]:
    """All fragments (words, separators, single whitespace chars), no empties."""
    pairs = [(fragment, "") for fragment in _NON_WORD_SPLIT.split(text) if fragment]
    return [part for part, _ in _split_camel_pairs(pairs)]


def _split_camel_pairs(pairs: List[Tuple[str, str]]) -> List[Tuple[str, str]]:
    """(token, whitespace) pairs with camelCase words split, the inner parts
    followed directly by the next part.  Only a token with an upper-case
    character after its first one can split (``str.islower()`` is False on any
    string holding one; for ASCII that is exactly ``[a-z][A-Z]``)."""
    out: List[Tuple[str, str]] = []
    search = _ASCII_CAMEL.search
    for pair in pairs:
        text = pair[0]
        if text[1:].islower() or text.isascii() and not search(text):
            out.append(pair)
            continue
        parts = split_camel_case(text)
        out += [(part, "") for part in parts[:-1]]
        out.append((parts[-1], pair[1]))
    return out


class TokenizedDoc:
    """Per-token columns, line offsets and the canonical extracted text."""

    __slots__ = (
        "texts", "whitespace", "starts", "ends", "tags", "sub_tags", "preserved_tags",
        "line_starts", "extracted_text",
    )

    def __init__(
        self,
        texts: List[str],
        whitespace: List[Optional[str]],
        starts: List[int],
        ends: List[int],
        line_starts: List[int],
        extracted_text: str,
    ):
        self.texts = texts
        self.whitespace = whitespace
        self.starts = starts
        self.ends = ends
        self.line_starts = line_starts
        self.extracted_text = extracted_text
        self.tags: List[Optional[str]] = [None] * len(texts)
        self.sub_tags: List[Optional[str]] = [None] * len(texts)
        self.preserved_tags: List[Optional[str]] = [None] * len(texts)

    @classmethod
    def from_lines(cls, lines: Sequence[Sequence[Tuple[str, Optional[str]]]]) -> "TokenizedDoc":
        """A document of (text, recorded whitespace) pairs per line; the
        extracted text joins each line's tokens with their effective
        whitespace (None -> one space), the last one contributing none."""
        texts: List[str] = []
        whitespace: List[Optional[str]] = []
        starts: List[int] = []
        line_starts = [0]
        out: List[str] = []
        pos = 0
        for line in lines:
            line_texts = [text for text, _ in line]
            line_ws = [ws for _, ws in line]
            text, offsets = _join(line_texts, line_ws, " ", pos)
            texts += line_texts
            whitespace += line_ws
            starts += offsets
            out.append(text)
            line_starts.append(len(texts))
            pos += len(text) + 1
        ends = list(map(add, starts, map(len, texts)))
        return cls(texts, whitespace, starts, ends, line_starts, "\n".join(out))

    @property
    def lines(self) -> List[range]:
        """Each line's token indices."""
        bounds = self.line_starts
        return [range(a, b) for a, b in zip(bounds, bounds[1:])]

    def keep(self, indices: Sequence[int]) -> None:
        """Keep only the tokens at ``indices`` (ascending) and drop the lines
        left empty.  Offsets still point into the unchanged extracted text,
        so keep only tagged tokens: the TEI renderer writes an untagged line
        as one slice of it, which a shortened line no longer is."""
        for name in ("texts", "whitespace", "starts", "ends", "tags", "sub_tags", "preserved_tags"):
            column = getattr(self, name)
            setattr(self, name, [column[i] for i in indices])
        line_starts = [0]
        for end in self.line_starts[1:]:
            kept = bisect_left(indices, end)  # kept tokens before the line's end
            if kept > line_starts[-1]:
                line_starts.append(kept)
        self.line_starts = line_starts


def tokenize_lines(text_lines: Sequence[str]) -> TokenizedDoc:
    """Build the token columns and the canonical extracted text: one regex
    scan per line gives each token and the whitespace character after it."""
    texts: List[str] = []
    whitespace: List[Optional[str]] = []
    starts: List[int] = []
    ends: List[int] = []
    line_starts = [0]
    out: List[str] = []
    pos = 0
    findall = _TOKEN_WS.findall
    for line in text_lines:
        pairs = findall(line)
        if pairs:
            # an ASCII line holds a camelCase word only if the pattern occurs
            if not line.isascii() or _ASCII_CAMEL.search(line):
                pairs = _split_camel_pairs(pairs)
            line_texts, line_ws = zip(*pairs)
            # each token followed by its whitespace; the last one contributes none
            pieces = list(map("".join, pairs))
            pieces[-1] = line_texts[-1]
            offsets = list(accumulate(map(len, pieces), initial=pos))
            pos = offsets.pop()
            texts += line_texts
            whitespace += line_ws
            if not line_ws[-1]:
                whitespace[-1] = None  # nothing after the last token
            starts += offsets
            ends += map(add, offsets, map(len, line_texts))
            out.append("".join(pieces))
        else:
            out.append("")
        line_starts.append(len(texts))
        pos += 1  # the line break
    return TokenizedDoc(texts, whitespace, starts, ends, line_starts, "\n".join(out))


def _join(
    texts: Sequence[str], whitespace: Sequence[Optional[str]], sep: str, pos: int
) -> Tuple[str, List[int]]:
    """``texts`` joined with their whitespace (None -> ``sep``), the last one
    contributing none, and each one's start when the join starts at ``pos``."""
    pieces = [text + (sep if ws is None else ws) for text, ws in zip(texts, whitespace)]
    if pieces:
        pieces[-1] = texts[-1]
    starts = list(accumulate(map(len, pieces), initial=pos))
    starts.pop()
    return "".join(pieces), starts


def join_with_index_ranges(
    item_strings: List[str], whitespace_list: Optional[List[Optional[str]]], sep: str
) -> Tuple[str, List[IndexRange]]:
    """Join item strings with per-item whitespace (None -> sep; last item '')
    and return each item's index range in the joined string
    (matching_utils.py:116-142)."""
    joined, starts = _join(item_strings, whitespace_list or [None] * len(item_strings), sep, 0)
    return joined, list(zip(starts, map(add, starts, map(len, item_strings))))
