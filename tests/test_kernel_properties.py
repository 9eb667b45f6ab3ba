"""Property-based differential tests for the alignment kernel.

The vectorized Smith-Waterman is checked against an independent scalar DP
oracle (same scoring, straightforward O(n*m) python) on random inputs, plus
structural invariants of the matching-block contract and the fuzzy search.
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from sciencebeam_trainer_grobid_tools_spark.kernel import native
from sciencebeam_trainer_grobid_tools_spark.kernel.align import (
    GAP_SCORE,
    MATCH_SCORE,
    MISMATCH_SCORE,
    _pick_max_cell,
    _smith_waterman_matrix,
    _traceback_blocks,
    local_matching_blocks,
)
from sciencebeam_trainer_grobid_tools_spark.kernel.fuzzy import (
    FuzzyScore,
    JoinedMaskedString,
    MaskedString,
    _adjacent_junk_count,
    _positional_junk_count,
    adjacent_is_junk,
    fuzzy_search,
    positional_is_junk,
)
from sciencebeam_trainer_grobid_tools_spark.kernel.levenshtein import (
    levenshtein_distance,
)

ALPHABET = "abc "
texts = st.text(alphabet=ALPHABET, min_size=0, max_size=40)
small_texts = st.text(alphabet=ALPHABET, min_size=1, max_size=25)


def scalar_sw_best_score(a: str, b: str) -> int:
    """Independent scalar Smith-Waterman best local score."""
    n, m = len(a), len(b)
    best = 0
    prev = [0] * (n + 1)
    for j in range(1, m + 1):
        cur = [0] * (n + 1)
        for i in range(1, n + 1):
            sub = MATCH_SCORE if a[i - 1] == b[j - 1] else MISMATCH_SCORE
            cur[i] = max(0, prev[i - 1] + sub, prev[i] + GAP_SCORE, cur[i - 1] + GAP_SCORE)
            best = max(best, cur[i])
        prev = cur
    return best


def blocks_path_score(a: str, b: str, blocks) -> int:
    """Score of the alignment implied by the returned blocks: matches inside
    blocks, gaps between consecutive blocks (lower bound of the true path
    score since mismatch-diagonals are cheaper than double gaps)."""
    real = [blk for blk in blocks if blk[2]]
    if not real:
        return 0
    score = sum(size for _, _, size in real) * MATCH_SCORE
    for (a1, b1, s1), (a2, b2, _) in zip(real, real[1:]):
        gap_a = a2 - (a1 + s1)
        gap_b = b2 - (b1 + s1)
        # diagonal mismatches cover min(gap_a, gap_b); rest are gaps
        diag = min(gap_a, gap_b)
        score += diag * MISMATCH_SCORE + (gap_a + gap_b - 2 * diag) * GAP_SCORE
    return score


@settings(max_examples=200, deadline=None)
@given(a=texts, b=texts)
def test_sw_blocks_are_valid_and_monotonic(a, b):
    blocks = local_matching_blocks(a, b)
    assert blocks[-1] == (len(a), len(b), 0)  # difflib terminator
    real = [blk for blk in blocks if blk[2]]
    prev_a_end = prev_b_end = 0
    for ai, bi, size in real:
        assert 0 <= ai and ai + size <= len(a)
        assert 0 <= bi and bi + size <= len(b)
        assert ai >= prev_a_end and bi >= prev_b_end  # strictly ordered
        assert a[ai : ai + size] == b[bi : bi + size]  # blocks are true matches
        prev_a_end, prev_b_end = ai + size, bi + size


@settings(max_examples=200, deadline=None)
@given(a=small_texts, b=small_texts)
def test_sw_path_reaches_scalar_oracle_score(a, b):
    """The traceback's implied path must reach the scalar DP's best score
    (it can't exceed it; equality means we picked a maximal path)."""
    oracle = scalar_sw_best_score(a, b)
    blocks = local_matching_blocks(a, b)
    assert blocks_path_score(a, b, blocks) == oracle


@settings(max_examples=100, deadline=None)
@given(s=small_texts)
def test_identical_strings_fully_match(s):
    blocks = [blk for blk in local_matching_blocks(s, s) if blk[2]]
    assert blocks == [(0, 0, len(s))]


def numpy_oracle_blocks(a: str, b: str):
    """The no-compiler DP: score matrix, first maximum cell, traceback."""
    a_codes = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32)
    b_codes = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    h = _smith_waterman_matrix(a_codes, b_codes)
    i, j, score = _pick_max_cell(h)
    return _traceback_blocks(h, a_codes, b_codes, i, j) if score > 0 else []


# lengths on both sides of the kernel's 8-lane steps, n < 8, m = 1 and empty
lane_lengths = st.one_of(
    st.sampled_from([0, 1, 2, 7, 8, 9, 15, 16, 17, 23, 24, 25, 31, 32, 33]),
    st.integers(min_value=0, max_value=70),
)


@st.composite
def dp_pairs(draw):
    # tie-heavy alphabets, astral code points and a sparse alphabet; about
    # half the needles are noisy slices of the haystack, so real alignments
    # (long diagonals, ties between rows) occur on every alphabet
    alphabet = draw(st.sampled_from(["ab", "ab ", "a\u00e9\U0001f600 ", "abcdefghijklmnopqrstuvwxyz"]))
    n = draw(lane_lengths)
    m = draw(lane_lengths)
    a = draw(st.text(alphabet=alphabet, min_size=n, max_size=n))
    b = draw(st.text(alphabet=alphabet, min_size=m, max_size=m))
    if a and draw(st.booleans()):
        start = draw(st.integers(min_value=0, max_value=n - 1))
        b = "".join(
            draw(st.sampled_from([c, c, c, alphabet[0]])) for c in a[start : start + m]
        )
    return a, b


@settings(max_examples=400, deadline=None)
@given(pair=dp_pairs())
def test_native_dp_blocks_equal_numpy_oracle(pair):
    """The fused C kernel (SIMD rows, best cell, traceback) returns exactly
    the numpy DP's blocks."""
    if native.get_native_lib() is None:
        pytest.skip("native kernel unavailable")
    a, b = pair
    got = native.native_match_blocks(a.encode("utf-32-le"), len(a), b.encode("utf-32-le"), len(b))
    assert got == numpy_oracle_blocks(a, b)


@settings(max_examples=100, deadline=None)
@given(haystack=texts, needle=small_texts)
def test_fuzzy_search_range_within_haystack(haystack, needle):
    fm = fuzzy_search(haystack, needle, threshold=0.8)
    if fm is not None:
        start, end = fm.a_index_range()
        assert 0 <= start <= end <= len(haystack)


@settings(max_examples=100, deadline=None)
@given(a=small_texts, b=small_texts)
def test_levenshtein_triangle_and_bounds(a, b):
    d = levenshtein_distance(a, b)
    assert abs(len(a) - len(b)) <= d <= max(len(a), len(b))
    assert d == levenshtein_distance(b, a)
    assert (d == 0) == (a == b)


@settings(max_examples=100, deadline=None)
@given(a=small_texts, b=small_texts)
def test_fuzzy_score_ratios_bounded(a, b):
    blocks = local_matching_blocks(a, b)
    fm = FuzzyScore(a, b, blocks)
    assert 0.0 <= fm.b_gap_ratio() <= 1.0 + 1e-9 or fm.b_gap_ratio() >= 0
    assert fm.match_count() >= 0


junk_texts = st.lists(
    st.sampled_from(["a", "Z", "*", ".", ",", " ", "   ", "é", "Ж", "中", "\u0301"]), max_size=30
).map("".join)


@settings(max_examples=300, deadline=None)
@given(junk_texts, st.data())
def test_gap_local_junk_count_matches_prefix_sum(s, data):
    start = data.draw(st.integers(min_value=0, max_value=len(s)))
    end = data.draw(st.integers(min_value=start, max_value=len(s)))
    for count, isjunk in (
        (_positional_junk_count, positional_is_junk),
        (_adjacent_junk_count, adjacent_is_junk),
    ):
        prefix = [0]
        for i in range(len(s)):
            prefix.append(prefix[-1] + isjunk(s, i))
        assert count(s, start, end) == prefix[end] - prefix[start]


masked_texts = st.text(alphabet="ab \t\n\xa0\u2009", max_size=30)


def unmasked_positions(s: str):
    import numpy as np

    codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
    return list(np.flatnonzero(~np.isin(codes, [ord(" "), ord("\t"), ord("\n")])))


@settings(max_examples=300, deadline=None)
@given(masked_texts)
def test_run_table_back_map_matches_flatnonzero(s):
    view = MaskedString(s)
    expected = unmasked_positions(s)
    assert view.masked == "".join(s[i] for i in expected)
    assert [view.original_index(i) for i in range(len(view.masked))] == expected


@settings(max_examples=300, deadline=None)
@given(st.lists(masked_texts, max_size=5))
def test_joined_run_table_back_map_matches_flatnonzero(parts):
    starts = [sum(len(part) + 1 for part in parts[:k]) for k in range(len(parts))]
    view = JoinedMaskedString([MaskedString(part) for part in parts], starts)
    expected = unmasked_positions("\n".join(parts))
    assert [view.original_index(i) for i in range(len(view.masked))] == expected
