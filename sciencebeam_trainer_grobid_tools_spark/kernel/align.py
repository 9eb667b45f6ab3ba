"""Local sequence alignment kernels.

Numpy re-implementation of the observable contract of the pinned C kernel
``sciencebeam-alignment==0.0.5`` (``LocalSequenceMatcher`` with
``SimpleScoring(match=2, mismatch=-1, gap=-2)``), used by the reference at
``/root/reference/sciencebeam_trainer_grobid_tools/core/annotation/fuzzy_match.py:9-22``
and ``utils/fuzzy.py:198-202``.  The contract is difflib-style
``get_matching_blocks()`` output: ``[(a_index, b_index, size), ..., (len(a), len(b), 0)]``
with blocks ordered left-to-right.  Equivalence is asserted against the
reference's own test expectations (``tests/utils/fuzzy_test.py``).

Also provides the word-level matcher used for short needles
(``utils/fuzzy.py:160-195``).

Design notes (Spark-first): these kernels run inside Arrow-batched
``mapInPandas`` UDFs on executors.  The DP is vectorized along the haystack
axis with a prefix-scan trick for the in-row gap dependency, so the per-row
python overhead is O(len(needle)) numpy calls instead of O(n*m) python steps.
"""

from __future__ import annotations

from difflib import SequenceMatcher
from functools import lru_cache
from typing import List, Tuple

import numpy as np

from .native import native_match_blocks

MATCH_SCORE = 2
MISMATCH_SCORE = -1
GAP_SCORE = -2

# Word separators of the short-needle word matcher
# (reference: utils/fuzzy.py:19 DEFAULT_WORD_SEPARATORS)
WORD_SEPARATORS = " .,-:;()[]\n\t"

MatchingBlock = Tuple[int, int, int]
MatchingBlocks = List[MatchingBlock]

# Memory guard for the stored DP matrix (int32 cells). 64M cells = 256 MB.
# The windowed search (fuzzy.auto_window) keeps real inputs far below this.
# It also keeps min(n, m) <= 8000, inside the native kernel's int16 scores.
MAX_DP_CELLS = 64_000_000


def _smith_waterman_matrix(a_codes: np.ndarray, b_codes: np.ndarray) -> np.ndarray:
    """Compute the Smith-Waterman score matrix H of shape (len(b)+1, len(a)+1).

    H[j, i] is the best local-alignment score of suffix-aligned prefixes
    a[:i], b[:j], clamped at 0.  Vectorized along the a (haystack) axis;
    the within-row left-gap dependency is resolved with a prefix scan:
    H[j,i] = max_k<=i (c[k] - 2*(i-k)) where c is the row candidate without
    left gaps, which equals cummax(c[k] + 2k) - 2i because the gap penalty
    is linear.
    """
    n = a_codes.shape[0]
    m = b_codes.shape[0]
    h = np.zeros((m + 1, n + 1), dtype=np.int32)
    if n == 0 or m == 0:
        return h
    idx2 = 2 * np.arange(1, n + 1, dtype=np.int32)
    cand = np.empty(n, dtype=np.int32)
    scratch = np.empty(n, dtype=np.int32)
    for j in range(1, m + 1):
        prev = h[j - 1]
        # cand = max(0, diag + sub, up + gap) without temporaries
        np.subtract(prev[1:], -GAP_SCORE, out=cand)  # up + GAP_SCORE
        np.add(prev[:-1], MISMATCH_SCORE, out=scratch)
        scratch[a_codes == b_codes[j - 1]] += MATCH_SCORE - MISMATCH_SCORE
        np.maximum(cand, scratch, out=cand)
        np.maximum(cand, 0, out=cand)
        # left-gap prefix scan: h[j,i] = cummax(cand + 2i) - 2i
        row = h[j]
        np.add(cand, idx2, out=scratch)
        np.maximum.accumulate(scratch, out=scratch)
        np.subtract(scratch, idx2, out=row[1:])
    return h


def _pick_max_cell(h: np.ndarray) -> Tuple[int, int, int]:
    """Return (a_index, b_index, score) of the maximum cell.

    Ties break to the smallest (a_index, b_index) — i.e. the leftmost match in
    the haystack — mirroring a row-major max scan over (a, b).
    """
    # h is stored (b+1, a+1); argmax over the transpose scans in a-major
    # order, so the first maximum is the leftmost (smallest a, then b).
    transposed = h.T
    flat = int(np.argmax(transposed))
    m_rows = transposed.shape[1]
    i, j = divmod(flat, m_rows)
    best = int(h[j, i])
    if best <= 0:
        return 0, 0, 0
    return int(i), int(j), best


def _traceback_blocks(
    h: np.ndarray, a_codes: np.ndarray, b_codes: np.ndarray, i: int, j: int
) -> MatchingBlocks:
    """Walk back from cell (a=i, b=j) while the score is positive.

    Move preference on score ties: diagonal, then a-gap (up), then b-gap
    (left).  Matched positions are diagonal steps whose characters are equal;
    consecutive matched positions form difflib-style blocks.
    """
    matched: List[Tuple[int, int]] = []
    while i > 0 and j > 0 and h[j, i] > 0:
        score = h[j, i]
        sub = MATCH_SCORE if a_codes[i - 1] == b_codes[j - 1] else MISMATCH_SCORE
        if score == h[j - 1, i - 1] + sub:
            if sub == MATCH_SCORE:
                matched.append((i - 1, j - 1))
            i -= 1
            j -= 1
        elif score == h[j - 1, i] + GAP_SCORE:
            j -= 1
        elif score == h[j, i - 1] + GAP_SCORE:
            i -= 1
        else:  # fresh start (score came from the 0 clamp)
            break
    matched.reverse()
    blocks: MatchingBlocks = []
    for ai, bi in matched:
        if blocks and blocks[-1][0] + blocks[-1][2] == ai and blocks[-1][1] + blocks[-1][2] == bi:
            blocks[-1] = (blocks[-1][0], blocks[-1][1], blocks[-1][2] + 1)
        else:
            blocks.append((ai, bi, 1))
    return blocks


def local_matching_blocks(haystack: str, needle: str) -> MatchingBlocks:
    """Smith-Waterman local alignment matching blocks, difflib-style.

    Returns ``[(a, b, size), ..., (len(a), len(b), 0)]`` (with terminator),
    matching the contract of ``LocalSequenceMatcher.get_matching_blocks()``
    (reference: utils/fuzzy.py:198-202).
    """
    # Exact-occurrence fast path: a score of 2*len(needle) (the attainable
    # maximum — every needle char matched, no gap/mismatch penalties) is
    # reached exactly by verbatim occurrences, and the max-cell scan
    # tie-breaks to the smallest a index (leftmost end cell), so when the
    # needle occurs verbatim the DP result is provably the FIRST occurrence
    # as one block.  str.find performs the same code-point comparison at C
    # speed, skipping the O(n*m) DP.  Guarded to the exact-DP regime so the
    # MAX_DP_CELLS needle-truncation behavior is unchanged.
    n = len(haystack)
    m = len(needle)
    if n * m <= MAX_DP_CELLS:
        m_dp = m
        idx = haystack.find(needle) if needle else -1
        if idx >= 0:
            return [(idx, 0, m), (n, m, 0)]
    else:
        # Guard: bound memory by truncating the needle for the DP; the windowed
        # driver (kernel.fuzzy) never reaches this for realistic inputs.
        m_dp = max(1, MAX_DP_CELLS // n)
    a_bytes = haystack.encode("utf-32-le")
    b_bytes = needle.encode("utf-32-le")
    # the compiled kernel (kernel/native.py) — same contract as the
    # reference's pinned C alignment kernel; numpy path without a compiler
    blocks = native_match_blocks(a_bytes, n, b_bytes, m_dp)
    if blocks is None:
        a_codes = np.frombuffer(a_bytes, dtype=np.uint32)
        b_codes = np.frombuffer(b_bytes, dtype=np.uint32)[:m_dp]
        h = _smith_waterman_matrix(a_codes, b_codes)
        i, j, score = _pick_max_cell(h)
        blocks = _traceback_blocks(h, a_codes, b_codes, i, j) if score > 0 else []
    blocks.append((n, m, 0))
    return blocks


@lru_cache(maxsize=8)
def _split_pattern(separators: str):
    import re

    escaped = re.escape(separators)
    return re.compile("[%s]|[^%s]+" % (escaped, escaped))


@lru_cache(maxsize=64)
def _split_offsets_and_words(s: str, separators: str) -> Tuple[List[int], List[str]]:
    """Split ``s`` into fragments, keeping separator chars as their own
    single-char fragments (reference: utils/fuzzy.py:132-144), as two
    parallel lists: the offsets and the fragments.  The word matcher needs
    the word list alone for SequenceMatcher.  One regex scan (C speed);
    cached, as the haystack side repeats across the short-needle searches
    of one doc."""
    offsets: List[int] = []
    words: List[str] = []
    for m in _split_pattern(separators).finditer(s):
        offsets.append(m.start())
        words.append(m.group())
    return offsets, words


def _word_exact_fast_path(
    haystack: str, needle: str, separators: str
) -> Optional[MatchingBlocks]:
    """First WORD-ALIGNED verbatim occurrence of ``needle`` in ``haystack``,
    or None when there is none (caller falls back to the full matcher).

    Equivalence to the difflib path: fragments are single separator chars or
    maximal non-separator runs, so a contiguous fragment-list match of all of
    ``needle``'s fragments is exactly a char occurrence whose ends are
    fragment-aligned (a non-separator first/last needle char must not extend
    a neighboring non-separator run).  Such a match has the maximal block
    size len(b_words); ``SequenceMatcher.find_longest_match`` returns the
    earliest maximal match and both flanks of a full-needle match are empty
    on the b side, so ``get_matching_blocks`` yields exactly that single
    block — with char offset = the occurrence position and size =
    len(needle), which is what this returns without splitting the haystack."""
    n = len(needle)
    first_nonsep = needle[0] not in separators
    last_nonsep = needle[-1] not in separators
    start = 0
    while True:
        p = haystack.find(needle, start)
        if p < 0:
            return None
        if (not first_nonsep or p == 0 or haystack[p - 1] in separators) and (
            not last_nonsep
            or p + n == len(haystack)
            or haystack[p + n] in separators
        ):
            return [(p, 0, n)]
        start = p + 1


def word_matching_blocks(
    haystack: str, needle: str, separators: str = WORD_SEPARATORS
) -> MatchingBlocks:
    """Word-level matching for short needles (< exact_word_match_threshold).

    Words are matched exactly via difflib ``SequenceMatcher`` (autojunk off)
    over the word lists; blocks are re-mapped to character offsets with size =
    total matched word characters (reference: utils/fuzzy.py:160-195).
    No terminator block is emitted (the reference's word path does not either).
    """
    if needle and haystack:
        fast = _word_exact_fast_path(haystack, needle, separators)
        if fast is not None:
            return fast
    a_offsets, a_words = _split_offsets_and_words(haystack, separators)
    b_offsets, b_words = _split_offsets_and_words(needle, separators)
    sm = SequenceMatcher(None, a_words, b_words, autojunk=False)
    blocks: MatchingBlocks = []
    for ai, bi, size in sm.get_matching_blocks():
        if not size:
            continue
        blocks.append(
            (
                a_offsets[ai],
                b_offsets[bi],
                sum(len(a_words[ai + k]) for k in range(size)),
            )
        )
    return blocks
