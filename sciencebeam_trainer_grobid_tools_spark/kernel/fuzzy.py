"""Fuzzy match scoring, whitespace masking and windowed strided search.

Re-implements (from behavior, not code) the reference's fuzzy matching stack:

- match scoring / ratios: ``core/annotation/fuzzy_match.py:78-280`` with the
  *clamped* ``b_gap_ratio`` variant of ``utils/fuzzy.py:55-72`` (the simple
  matcher uses the clamped subclass; the complex matcher the unclamped base —
  both are exposed here via ``clamp_a_gaps``).
- junk predicates: ``utils/fuzzy.py:33-52`` (positional, space-lookback) and
  ``core/annotation/fuzzy_match.py:34-44``.
- whitespace masking with index back-mapping: ``utils/fuzzy.py:104-129,547-578``.
- windowed / strided Smith-Waterman with early exit and multi-chunk needle
  splitting: ``utils/fuzzy.py:368-487``.
- the search entry points (``fuzzy_search[_chunks]``, ``iter_fuzzy_search_all``):
  ``utils/fuzzy.py:520-644``.

Everything here is pure python; it runs inside Spark executors via
Arrow-batched ``mapInPandas`` (see ``plans/pipeline.py``).
"""

from __future__ import annotations

import re
from bisect import bisect_right
from itertools import accumulate
from typing import Callable, Iterable, Iterator, List, Optional, Tuple, Union

from .align import (
    MatchingBlocks,
    WORD_SEPARATORS,
    local_matching_blocks,
    word_matching_blocks,
)

IndexRange = Tuple[int, int]
IsJunk = Callable[[str, int], bool]

DEFAULT_SCORE_THRESHOLD = 0.8
EXACT_WORD_MATCH_THRESHOLD = 5
MIN_WINDOW_LENGTH = 1000


def range_length(index_range: IndexRange) -> int:
    return index_range[1] - index_range[0]


def positional_is_junk(s: str, i: int) -> bool:
    """Junk scoring used by the simple matcher (reference: utils/fuzzy.py:33-48):
    '*' or space anywhere; ',' after a '.' (looking back across spaces);
    '.' after a letter (looking back across spaces)."""
    ch = s[i]
    if ch in ("*", " "):
        return True
    k = i - 1
    while k >= 0 and s[k] == " ":
        k -= 1
    prev = s[k] if k >= 0 else ""
    if ch == "," and prev == ".":
        return True
    if ch == "." and prev.isalpha():
        return True
    return False


def space_is_junk(s: str, i: int) -> bool:
    """Reference: utils/fuzzy.py:51-52."""
    return s[i] in (" ", "\t", "\n")


def adjacent_is_junk(s: str, i: int) -> bool:
    """Junk predicate of the complex matcher (reference:
    core/annotation/fuzzy_match.py:34-40): space/comma right after a dot,
    dot right after a letter, repeated char, or '*'."""
    return (
        (i > 0 and s[i - 1] == "." and s[i] in (" ", ","))
        or (i > 0 and s[i - 1].isalpha() and s[i] == ".")
        or (i > 0 and s[i - 1] == s[i])
        or s[i] == "*"
    )


def remove_junk(s: str, isjunk: Optional[IsJunk] = None) -> str:
    """Drop characters flagged junk (reference: core/annotation/fuzzy_match.py:47-63)."""
    if isjunk is None:
        isjunk = adjacent_is_junk
    kept = [ch for i, ch in enumerate(s) if not isjunk(s, i)]
    if len(kept) == len(s):
        return s
    return "".join(kept)


def complement_ranges(
    ranges: Iterable[IndexRange], start: int, end: int
) -> Iterator[IndexRange]:
    """Yield the gaps of ``ranges`` within [start, end)
    (reference: core/annotation/fuzzy_match.py:66-75)."""
    i = start
    for r_start, r_end in ranges:
        if i >= end:
            return
        if i < r_start:
            yield i, min(end, r_start)
        i = r_end
    if i < end:
        yield i, end


def _positional_junk_count(s: str, start: int, end: int) -> int:
    """``positional_is_junk`` count over s[start:end]: spaces and stars by
    ``str.count``, the look-back test only at the dots and commas."""
    segment = s[start:end]
    count = segment.count(" ") + segment.count("*")
    for ch in ",.":
        i = segment.find(ch)
        while i >= 0:
            k = start + i - 1
            while k >= 0 and s[k] == " ":
                k -= 1
            if k >= 0 and (s[k] == "." if ch == "," else s[k].isalpha()):
                count += 1
            i = segment.find(ch, i + 1)
    return count


def _adjacent_junk_count(s: str, start: int, end: int) -> int:
    """``adjacent_is_junk`` count over s[start:end]."""
    count = 0
    prev = s[start - 1] if start > 0 else ""
    for ch in s[start:end]:
        if (
            ch == "*"
            or ch == prev
            or (prev == "." and ch in " ,")
            or (ch == "." and prev.isalpha())
        ):
            count += 1
        prev = ch
    return count


_JUNK_COUNTS = {
    positional_is_junk: _positional_junk_count,
    adjacent_is_junk: _adjacent_junk_count,
}


class FuzzyScore:
    """Scores a set of matching blocks between haystack ``a`` and needle ``b``.

    Semantics of ``core/annotation/fuzzy_match.py:78-210``; ``clamp_a_gaps``
    selects the fixed ``b_gap_ratio`` of ``utils/fuzzy.py:55-72`` (simple
    matcher) versus the base calculation (complex matcher).
    """

    __slots__ = ("a", "b", "blocks", "isjunk", "clamp_a_gaps", "_a_range", "_b_range")

    def __init__(
        self,
        a: str,
        b: str,
        blocks: MatchingBlocks,
        isjunk: Optional[IsJunk] = None,
        clamp_a_gaps: bool = True,
    ):
        self.a = a
        self.b = b
        self.blocks = [blk for blk in blocks if blk[2]]
        self.isjunk = isjunk or adjacent_is_junk
        self.clamp_a_gaps = clamp_a_gaps
        self._a_range: Optional[IndexRange] = None
        self._b_range: Optional[IndexRange] = None

    def has_match(self) -> bool:
        return bool(self.blocks)

    def match_count(self) -> int:
        return sum(size for _, _, size in self.blocks)

    def a_index_range(self) -> IndexRange:
        if not self.blocks:
            return (0, 0)
        if self._a_range is None:
            last = self.blocks[-1]
            self._a_range = (self.blocks[0][0], last[0] + last[2])
        return self._a_range

    def b_index_range(self) -> IndexRange:
        if not self.blocks:
            return (0, 0)
        if self._b_range is None:
            last = self.blocks[-1]
            self._b_range = (self.blocks[0][1], last[1] + last[2])
        return self._b_range

    def _count_junk_in(self, s: str, index_range: IndexRange) -> int:
        start, end = index_range
        count = _JUNK_COUNTS.get(self.isjunk)
        if count is not None:
            return count(s, start, end)
        return sum(1 for i in range(start, end) if self.isjunk(s, i))

    def _non_matching_junk(
        self, s: str, blocks_ranges: List[IndexRange], index_range: Optional[IndexRange]
    ) -> int:
        if index_range is None:
            index_range = (0, len(s))
        return sum(
            self._count_junk_in(s, gap)
            for gap in complement_ranges(blocks_ranges, index_range[0], index_range[1])
        )

    def a_non_matching_junk_count(self, index_range: Optional[IndexRange] = None) -> int:
        return self._non_matching_junk(
            self.a, [(a, a + size) for a, _, size in self.blocks], index_range
        )

    def b_non_matching_junk_count(self, index_range: Optional[IndexRange] = None) -> int:
        return self._non_matching_junk(
            self.b, [(b, b + size) for _, b, size in self.blocks], index_range
        )

    def ratio_to(self, size: int) -> float:
        if not size:
            return 0.0
        return self.match_count() / size

    def ratio(self) -> float:
        a_len = range_length(self.a_index_range())
        b_len = range_length(self.b_index_range())
        max_len = max(a_len, b_len)
        if max_len == a_len:
            junk = self.a_non_matching_junk_count(self.a_index_range())
        else:
            junk = self.b_non_matching_junk_count(self.b_index_range())
        return self.ratio_to(max_len - junk)

    def a_ratio(self) -> float:
        return self.ratio_to(len(self.a) - self.a_non_matching_junk_count())

    def b_ratio(self) -> float:
        return self.ratio_to(len(self.b) - self.b_non_matching_junk_count())

    def b_gap_ratio(self) -> float:
        a_range = self.a_index_range()
        a_match_len = range_length(a_range)
        match_count = self.match_count()
        a_junk = self.a_non_matching_junk_count(a_range)
        b_junk = self.b_non_matching_junk_count()
        a_gaps = a_match_len - match_count
        if self.clamp_a_gaps:
            a_gaps = max(0, a_gaps)
        return self.ratio_to(len(self.b) + a_gaps - a_junk - b_junk)

    def a_start_index(self) -> Optional[int]:
        return self.blocks[0][0] if self.blocks else None

    def a_end_index(self) -> Optional[int]:
        if not self.blocks:
            return None
        a, _, size = self.blocks[-1]
        return a + size

    def b_start_index(self) -> Optional[int]:
        return self.blocks[0][1] if self.blocks else None

    def b_end_index(self) -> Optional[int]:
        if not self.blocks:
            return None
        _, b, size = self.blocks[-1]
        return b + size

    def a_split_at(self, index: int) -> Tuple["FuzzyScore", "FuzzyScore"]:
        """Split on the haystack axis (core/annotation/fuzzy_match.py:212-233)."""
        a_pre, a_post = self.a[:index], self.a[index:]
        if not self.blocks or (self.a_end_index() or 0) <= index:
            return (
                FuzzyScore(a_pre, self.b, self.blocks, self.isjunk, self.clamp_a_gaps),
                FuzzyScore(a_post, self.b, [], self.isjunk, self.clamp_a_gaps),
            )
        return (
            FuzzyScore(
                a_pre,
                self.b,
                [
                    (a, b, min(size, index - a))
                    for a, b, size in self.blocks
                    if a < index
                ],
                self.isjunk,
                self.clamp_a_gaps,
            ),
            FuzzyScore(
                a_post,
                self.b,
                [
                    (max(0, a - index), b, size if a >= index else size + a - index)
                    for a, b, size in self.blocks
                    if a + size > index
                ],
                self.isjunk,
                self.clamp_a_gaps,
            ),
        )

    def b_split_at(self, index: int) -> Tuple["FuzzyScore", "FuzzyScore"]:
        """Split on the needle axis (core/annotation/fuzzy_match.py:235-257)."""
        b_pre, b_post = self.b[:index], self.b[index:]
        if not self.blocks or (self.b_end_index() or 0) <= index:
            return (
                FuzzyScore(self.a, b_pre, self.blocks, self.isjunk, self.clamp_a_gaps),
                FuzzyScore(self.a, b_post, [], self.isjunk, self.clamp_a_gaps),
            )
        return (
            FuzzyScore(
                self.a,
                b_pre,
                [
                    (a, b, min(size, index - b))
                    for a, b, size in self.blocks
                    if b < index
                ],
                self.isjunk,
                self.clamp_a_gaps,
            ),
            FuzzyScore(
                self.a,
                b_post,
                [
                    (a, max(0, b - index), size if b >= index else size + b - index)
                    for a, b, size in self.blocks
                    if b + size > index
                ],
                self.isjunk,
                self.clamp_a_gaps,
            ),
        )

    def __repr__(self) -> str:
        return "FuzzyScore(blocks=%r, match_count=%d, b_gap_ratio=%.3f)" % (
            self.blocks,
            self.match_count(),
            self.b_gap_ratio(),
        )


_UNMASKED_RUN = re.compile(r"[^ \t\n]+")


class MaskedString:
    """A string with its ``space_is_junk`` characters removed, and a run table
    back to the original (reference StringView: utils/fuzzy.py:104-129).

    The run table holds, per maximal unmasked run, its start in the masked
    string and in the original.  It is built from one regex scan on the first
    back-map, so a search that finds nothing never pays for it."""

    __slots__ = ("original", "masked", "_runs")

    def __init__(self, original: str):
        self.original = original
        # three C-level replaces beat str.translate, whose per-call table
        # set-up dominates on short strings
        self.masked = original.replace(" ", "").replace("\t", "").replace("\n", "")
        self._runs: Optional[Tuple[List[int], List[int]]] = None

    def original_index(self, index: int) -> int:
        """Position in ``original`` of position ``index`` of ``masked``."""
        if self._runs is None:
            masked_starts: List[int] = []
            original_starts: List[int] = []
            masked_pos = 0
            for match in _UNMASKED_RUN.finditer(self.original):
                start, end = match.span()
                masked_starts.append(masked_pos)
                original_starts.append(start)
                masked_pos += end - start
            self._runs = (masked_starts, original_starts)
        masked_starts, original_starts = self._runs
        run = bisect_right(masked_starts, index) - 1
        return original_starts[run] + index - masked_starts[run]


class JoinedMaskedString:
    """The ``MaskedString`` of ``"\\n".join(part.original for part in parts)``,
    built from the parts' own views and their starts in the joined string:
    the run table has one entry per part, and a part back-maps inside
    itself."""

    __slots__ = ("parts", "masked", "_masked_starts", "_original_starts")

    def __init__(self, parts: List[MaskedString], original_starts: List[int]):
        self.parts = parts
        masked = [part.masked for part in parts]
        self.masked = "".join(masked)
        self._masked_starts = list(accumulate(map(len, masked[:-1]), initial=0))
        self._original_starts = original_starts

    def original_index(self, index: int) -> int:
        k = bisect_right(self._masked_starts, index) - 1
        return self._original_starts[k] + self.parts[k].original_index(
            index - self._masked_starts[k]
        )


def offset_blocks(blocks: MatchingBlocks, a_offset: int = 0, b_offset: int = 0) -> MatchingBlocks:
    if not a_offset and not b_offset:
        return blocks
    return [(a + a_offset, b + b_offset, size) for a, b, size in blocks]


def _blocks_size(blocks: MatchingBlocks) -> int:
    return sum(size for _, _, size in blocks)


def _blocks_b_end(blocks: MatchingBlocks) -> int:
    if not blocks or not blocks[-1][2]:
        return 0
    return blocks[-1][1] + blocks[-1][2]


def _blocks_b_start(blocks: MatchingBlocks) -> Optional[int]:
    if not blocks or not blocks[0][2]:
        return None
    return blocks[0][1]


def _score_blocks(
    haystack: str, needle: str, blocks: MatchingBlocks, isjunk: Optional[IsJunk]
) -> float:
    return FuzzyScore(haystack, needle, blocks, isjunk=isjunk).b_gap_ratio()


def _first_chunk(
    haystack: str,
    needle: str,
    blocks: MatchingBlocks,
    threshold: float,
    isjunk: Optional[IsJunk],
) -> MatchingBlocks:
    """Largest leading run of blocks whose needle prefix scores >= threshold
    (reference: utils/fuzzy.py:284-310)."""
    count = len(blocks) - 1
    while count:
        chunk = blocks[:count]
        needle_end = _blocks_b_end(chunk)
        if not needle_end:
            break
        if _score_blocks(haystack, needle[:needle_end], chunk, isjunk) >= threshold:
            return chunk
        count -= 1
    return []


def _last_chunk(
    haystack: str,
    needle: str,
    blocks: MatchingBlocks,
    threshold: float,
    isjunk: Optional[IsJunk],
) -> MatchingBlocks:
    """Largest trailing run of blocks whose needle suffix scores >= threshold
    (reference: utils/fuzzy.py:313-343)."""
    start = 0
    while start < len(blocks):
        chunk = blocks[start:]
        needle_start = _blocks_b_start(chunk)
        if needle_start is None:
            break
        rebased = offset_blocks(chunk, b_offset=-needle_start)
        if _score_blocks(haystack, needle[needle_start:], rebased, isjunk) >= threshold:
            return chunk
        start += 1
    return []


def strided_matching_block_chunks(
    haystack: str,
    needle: str,
    max_length: int,
    stride: int,
    threshold: float,
    isjunk: Optional[IsJunk] = None,
    max_chunks: int = 1,
    start_index: int = 0,
) -> List[MatchingBlocks]:
    """Windowed Smith-Waterman over the haystack with early exit, and optional
    recursive needle splitting into up to ``max_chunks`` accepted chunks
    (reference: utils/fuzzy.py:368-465, semantics preserved exactly —
    including scoring window-relative blocks against the *full* haystack).
    """
    max_offset = stride
    while start_index < len(haystack):
        blocks = local_matching_blocks(haystack[start_index : start_index + max_length], needle)
        if not blocks or blocks[0][0] > max_offset or not blocks[0][2]:
            start_index += stride
            continue
        if _score_blocks(haystack, needle, blocks, isjunk) < threshold:
            if max_chunks <= 1:
                start_index += stride
                continue
            first = _first_chunk(haystack, needle, blocks, threshold, isjunk)
            last = [] if first else _last_chunk(haystack, needle, blocks, threshold, isjunk)
            if not first and not last:
                start_index += stride
                continue
            if first:
                needle_split = _blocks_b_end(first)
                remaining_needle = needle[needle_split:]
                remaining_start = start_index + needle_split
            else:
                needle_split = _blocks_b_start(last)
                assert needle_split is not None
                remaining_needle = needle[:needle_split]
                remaining_start = 0
            remaining = strided_matching_block_chunks(
                haystack,
                remaining_needle,
                max_length=max_length,
                stride=stride,
                threshold=threshold,
                isjunk=isjunk,
                max_chunks=max_chunks - 1,
                start_index=remaining_start,
            )
            if not remaining:
                start_index += stride
                continue
            if last:
                return remaining + [last]
            return [first] + [
                offset_blocks(chunk, b_offset=needle_split) for chunk in remaining
            ]
        if not start_index:
            return [blocks]
        return [offset_blocks(blocks, a_offset=start_index)]
    return []


def merged_chunks(chunks: List[MatchingBlocks]) -> MatchingBlocks:
    return [block for chunk in chunks for block in chunk]


def strided_matching_blocks(*args, **kwargs) -> MatchingBlocks:
    return merged_chunks(strided_matching_block_chunks(*args, **kwargs))


def auto_window(
    haystack_length: int,
    needle_length: int,
    threshold: float,
    min_max_length: int = MIN_WINDOW_LENGTH,
) -> Tuple[int, int]:
    """Window size and stride as pure functions of the input lengths
    (reference: utils/fuzzy.py:475-487)."""
    if haystack_length <= min_max_length:
        return haystack_length, haystack_length
    max_edit_distance = round(min(haystack_length, needle_length) * (1 - threshold))
    max_matched_needle_length = needle_length + max_edit_distance
    max_length = max(min_max_length, max_matched_needle_length * 4)
    return max_length, max_length - max_matched_needle_length


class ChunkedMatch:
    """A match split into needle chunks (reference ChunkedFuzzyMatchResult:
    utils/fuzzy.py:85-101)."""

    __slots__ = ("chunks",)

    def __init__(self, chunks: List[FuzzyScore]):
        self.chunks = chunks

    def merge(self) -> FuzzyScore:
        first = self.chunks[0]
        return FuzzyScore(
            first.a,
            first.b,
            merged_chunks([c.blocks for c in self.chunks]),
            isjunk=first.isjunk,
        )


def fuzzy_search_chunks(
    haystack: str,
    needle: str,
    threshold: float,
    exact_word_match_threshold: int = EXACT_WORD_MATCH_THRESHOLD,
    max_chunks: int = 1,
    start_index: int = 0,
    isjunk: Optional[IsJunk] = None,
    haystack_view: Optional[Union[MaskedString, JoinedMaskedString]] = None,
) -> Optional[ChunkedMatch]:
    """Dispatching fuzzy search (reference: utils/fuzzy.py:520-596):

    - short inputs: exact word-level matching, scored with the positional junk
      function;
    - otherwise: whitespace-masked strided Smith-Waterman with auto window,
      blocks back-mapped to original character offsets (the back-mapped block
      size spans any masked whitespace inside the matched haystack run —
      utils/fuzzy.py:563-578).

    ``haystack_view``: a caller's masked view of ``haystack`` (any string
    masking the same positions will do); used only when ``start_index`` is 0.
    """
    original_haystack = haystack
    if start_index:
        haystack = haystack[start_index:]
    if min(len(haystack), len(needle)) < exact_word_match_threshold:
        blocks = word_matching_blocks(haystack, needle, WORD_SEPARATORS)
        blocks = offset_blocks(blocks, a_offset=start_index)
        fm = FuzzyScore(
            original_haystack, needle, blocks, isjunk=isjunk or positional_is_junk
        )
        if fm.b_gap_ratio() < threshold:
            return None
        return ChunkedMatch([fm])
    if haystack_view is None or start_index:
        haystack_view = MaskedString(haystack)
    needle_view = MaskedString(needle)
    raw_chunks: Optional[List[MatchingBlocks]] = None
    # Exact-occurrence fast path for the SINGLE-WINDOW regime (masked
    # haystack <= MIN_WINDOW_LENGTH, where auto_window returns one window
    # covering the whole haystack): a verbatim masked occurrence is provably
    # what the full path returns — the SW optimum over the single window is
    # the FIRST occurrence as one block (see local_matching_blocks), and its
    # acceptance score is exactly 1.0 (full needle coverage, no junk-free
    # gaps), so any threshold <= 1.0 accepts it.  Multi-window haystacks
    # must keep the strided scan (an earlier window's sub-threshold-exact
    # fuzzy match may be accepted first), so the guard excludes them.
    if (
        needle_view.masked
        and threshold <= 1.0
        and len(haystack_view.masked) <= MIN_WINDOW_LENGTH
    ):
        first_at = haystack_view.masked.find(needle_view.masked)
        if first_at >= 0:
            raw_chunks = [[(first_at, 0, len(needle_view.masked))]]
    if raw_chunks is None:
        max_length, stride = auto_window(
            len(haystack_view.masked), len(needle_view.masked), threshold
        )
        raw_chunks = strided_matching_block_chunks(
            haystack_view.masked,
            needle_view.masked,
            max_length=max_length,
            stride=stride,
            threshold=threshold,
            max_chunks=max_chunks,
            isjunk=isjunk or positional_is_junk,
        )
    if not raw_chunks:
        return None
    to_haystack = haystack_view.original_index
    to_needle = needle_view.original_index
    chunks: List[FuzzyScore] = []
    for raw_blocks in raw_chunks:
        blocks = []
        for ai, bi, size in raw_blocks:
            if size:
                a_start = to_haystack(ai)
                blocks.append(
                    (a_start + start_index, to_needle(bi), to_haystack(ai + size - 1) - a_start + 1)
                )
        chunks.append(
            FuzzyScore(original_haystack, needle, blocks, isjunk=isjunk or positional_is_junk)
        )
    return ChunkedMatch(chunks)


def direct_fuzzy_match(
    a: str, b: str, exact_word_match_threshold: int = EXACT_WORD_MATCH_THRESHOLD
) -> FuzzyScore:
    """Unwindowed full-string alignment with the complex matcher's scoring
    (unclamped a_gaps, adjacent junk) — the ``fuzzy_match`` of
    core/annotation/fuzzy_match.py:283-289."""
    if min(len(a), len(b)) < exact_word_match_threshold:
        blocks = word_matching_blocks(a, b, WORD_SEPARATORS)
    else:
        blocks = local_matching_blocks(a, b)
    return FuzzyScore(a, b, blocks, isjunk=adjacent_is_junk, clamp_a_gaps=False)


def fuzzy_search(*args, **kwargs) -> Optional[FuzzyScore]:
    chunked = fuzzy_search_chunks(*args, **kwargs)
    if not chunked:
        return None
    return chunked.merge()


def iter_fuzzy_search_all(
    haystack: str, *args, start_index: int = 0, **kwargs
) -> Iterator[FuzzyScore]:
    """Repeated search resuming past each accepted match
    (reference: utils/fuzzy.py:606-620)."""
    while start_index < len(haystack):
        fm = fuzzy_search(haystack, *args, start_index=start_index, **kwargs)
        if not fm:
            return
        yield fm
        new_start = fm.a_index_range()[1]
        if new_start <= start_index:
            return
        start_index = new_start


def fuzzy_search_index_range(*args, **kwargs) -> Optional[IndexRange]:
    fm = fuzzy_search(*args, **kwargs)
    return fm.a_index_range() if fm else None


def fuzzy_search_index_range_chunks(*args, **kwargs) -> Optional[List[IndexRange]]:
    chunked = fuzzy_search_chunks(*args, **kwargs)
    if not chunked:
        return None
    return [fm.a_index_range() for fm in chunked.chunks]


def iter_fuzzy_search_all_index_ranges(*args, **kwargs) -> Iterator[IndexRange]:
    return (fm.a_index_range() for fm in iter_fuzzy_search_all(*args, **kwargs))
