"""Equivalence oracle for the alignment kernel.

Expected values are taken verbatim from the reference's own test suite
(/root/reference/tests/utils/fuzzy_test.py) — these pin down the observable
contract of the C alignment kernel + windowed search that we re-implement.
"""

import pytest

from sciencebeam_trainer_grobid_tools_spark.kernel.fuzzy import (
    auto_window,
    fuzzy_search_index_range,
    iter_fuzzy_search_all_index_ranges,
    strided_matching_block_chunks,
    strided_matching_blocks,
)


def nonzero(blocks):
    return [b for b in blocks if b[-1]]


def nonzero_chunks(chunks):
    return [[b for b in blocks if b[-1]] for blocks in chunks]


class TestStridedChunks:
    # fuzzy_test.py:28-35
    def test_two_chunks(self):
        assert nonzero_chunks(
            strided_matching_block_chunks(
                "abc 123456789 def", "abc def",
                max_length=30, stride=30, threshold=0.8, max_chunks=2,
            )
        ) == [[(0, 0, 4)], [(14, 4, 3)]]

    # fuzzy_test.py:37-44
    def test_two_chunks_right_heavy(self):
        assert nonzero_chunks(
            strided_matching_block_chunks(
                "abc 123456789 defghi", "abc defghi",
                max_length=30, stride=30, threshold=0.8, max_chunks=2,
            )
        ) == [[(0, 0, 3)], [(13, 3, 7)]]


class TestStridedBlocks:
    # fuzzy_test.py:48-104
    def test_exact_match_large_window(self):
        assert nonzero(
            strided_matching_blocks("abc", "abc", max_length=10, stride=5, threshold=0.8)
        ) == [(0, 0, 3)]

    def test_exact_match_within_window(self):
        assert nonzero(
            strided_matching_blocks(
                "0123456789abc", "abc", max_length=20, stride=5, threshold=0.8
            )
        ) == [(10, 0, 3)]

    def test_exact_match_past_window(self):
        assert nonzero(
            strided_matching_blocks(
                "0123456789abc", "abc", max_length=5, stride=5, threshold=0.8
            )
        ) == [(10, 0, 3)]

    def test_exact_match_with_overlap(self):
        assert nonzero(
            strided_matching_blocks(
                "0123456789abc", "abc", max_length=12, stride=5, threshold=0.8
            )
        ) == [(10, 0, 3)]

    def test_skips_below_threshold(self):
        assert nonzero(
            strided_matching_blocks(
                "a123456789abc", "abc", max_length=5, stride=5, threshold=0.8
            )
        ) == [(10, 0, 3)]

    def test_no_chunks_if_max_chunks_one(self):
        assert nonzero(
            strided_matching_blocks(
                "abc 123456789 def", "abc def",
                max_length=30, stride=30, threshold=0.8, max_chunks=1,
            )
        ) == []

    def test_two_chunks_merged(self):
        assert nonzero(
            strided_matching_blocks(
                "abc 123456789 def", "abc def",
                max_length=30, stride=30, threshold=0.8, max_chunks=2,
            )
        ) == [(0, 0, 4), (14, 4, 3)]


class TestAutoWindow:
    # fuzzy_test.py:107-121
    def test_calculates_window(self):
        assert auto_window(20, 10, threshold=0.8, min_max_length=1) == (48, 36)

    def test_uses_min_max_length(self):
        assert auto_window(200, 10, threshold=0.8, min_max_length=100) == (100, 88)

    def test_small_haystack_no_stride(self):
        assert auto_window(20, 10, threshold=0.8, min_max_length=100) == (20, 20)


class TestFuzzySearchIndexRange:
    # fuzzy_test.py:124-204
    @pytest.mark.parametrize(
        "haystack,needle,threshold,expected",
        [
            ("abc", "abc", 0.8, (0, 3)),
            ("xyz abc 123", "abc", 0.8, (4, 7)),
            ("(abc)", "abc", 0.8, (1, 4)),
            ("[abc]", "abc", 0.8, (1, 4)),
            (",abc,", "abc", 0.8, (1, 4)),
            ("-abc-", "abc", 0.8, (1, 4)),
            (":abc:", "abc", 0.8, (1, 4)),
            (";abc;", "abc", 0.8, (1, 4)),
            (".abc.", "abc", 0.8, (1, 4)),
            ("\tabc\t", "abc", 0.8, (1, 4)),
            ("\nabc\n", "abc", 0.8, (1, 4)),
            ("abc.", "abc.", 0.8, (0, 4)),
            ("abc.", "abc .", 0.9, (0, 4)),
            ("abc .", "abc.", 0.9, (0, 5)),
            ("Smith ,J .A .", "Smith, J. A.", 0.5, (0, 13)),
            ("PO Box 12345", "P.O. Box 12345", 0.8, (3, 12)),
        ],
    )
    def test_index_range(self, haystack, needle, threshold, expected):
        assert fuzzy_search_index_range(haystack, needle, threshold) == expected


class TestIterFuzzySearchAll:
    # fuzzy_test.py:207-218
    def test_single(self):
        assert list(iter_fuzzy_search_all_index_ranges("abc", "abc", 0.8)) == [(0, 3)]

    def test_multiple(self):
        assert list(iter_fuzzy_search_all_index_ranges("abc abc abc", "abc", 0.8)) == [
            (0, 3),
            (4, 7),
            (8, 11),
        ]


class TestJunkPrefixParity:
    """Randomized parity of the gap-local junk counts that FuzzyScore uses vs
    prefix sums of the per-char predicates, over every range of each string."""

    @staticmethod
    def _random_strings():
        import random

        rng = random.Random(20260816)
        alphabet = list("ab Z.,*.. é9\t") + ["é", "中", "́"]
        strings = ["", "a", ".", "*", " ", "é", "a..  b", "Smith ,J .A ."]
        for _ in range(300):
            n = rng.randint(1, 40)
            strings.append("".join(rng.choice(alphabet) for _ in range(n)))
        return strings

    def _check(self, count, isjunk):
        import numpy as np

        for s in self._random_strings():
            prefix = [0] + list(np.cumsum([isjunk(s, i) for i in range(len(s))]))
            for start in range(len(s) + 1):
                for end in range(start, len(s) + 1):
                    assert count(s, start, end) == prefix[end] - prefix[start], (s, start, end)

    def test_adjacent_parity(self):
        from sciencebeam_trainer_grobid_tools_spark.kernel.fuzzy import (
            _adjacent_junk_count,
            adjacent_is_junk,
        )

        self._check(_adjacent_junk_count, adjacent_is_junk)

    def test_positional_parity(self):
        from sciencebeam_trainer_grobid_tools_spark.kernel.fuzzy import (
            _positional_junk_count,
            positional_is_junk,
        )

        self._check(_positional_junk_count, positional_is_junk)
