"""Doc-model tests ported from tests/annotation/matching_utils_test.py plus
tokenizer round-trip invariants, and the matcher view's pending text against a
naive oracle."""

from hypothesis import given, settings, strategies as st

from sciencebeam_trainer_grobid_tools_spark.kernel.doc import (
    Token,
    TokenizedDoc,
    join_with_index_ranges,
    tokenize_lines,
    tokenize_text,
)
from sciencebeam_trainer_grobid_tools_spark.kernel.normalize import normalise_str
from sciencebeam_trainer_grobid_tools_spark.operators.annotate import MatcherView

from tests.conftest import doc_for_token_lines


def pending_token_texts(doc, index_range):
    view = MatcherView(doc)
    text = view.pending()
    return [view.tokens[i].text for i in text.token_indices_between(index_range)]


class TestJoinWithIndexRanges:
    # matching_utils_test.py:18-36
    def test_joins_two_tokens_with_space(self):
        text, ranges = join_with_index_ranges(["token1", "token2"], None, sep=" ")
        assert text == "token1 token2"
        assert ranges == [(0, 6), (7, 13)]

    def test_joins_two_tokens_without_space(self):
        text, ranges = join_with_index_ranges(["token1", "token2"], ["", " "], sep=" ")
        assert text == "token1token2"
        assert ranges == [(0, 6), (6, 12)]


class TestTokenRun:
    """A line's run of tokens in the matcher view's pending text (the
    reference's SequenceWrapper, matching_utils_test.py:40-60)."""

    def test_joined_with_space(self):
        doc = doc_for_token_lines([["token1", "token2"]])
        assert MatcherView(doc).pending().text == "token1 token2"

    def test_joined_respects_recorded_whitespace(self):
        doc = doc_for_token_lines([["token1", "token2"]])
        doc.lines[0][0].whitespace = ""
        assert MatcherView(doc).pending().text == "token1token2"

    def test_tokens_between(self):
        doc = doc_for_token_lines([["token1", "token2"]])
        assert pending_token_texts(doc, (0, 3)) == ["token1"]
        assert pending_token_texts(doc, (8, 10)) == ["token2"]
        assert pending_token_texts(doc, (0, 10)) == ["token1", "token2"]

    def test_whitespace_only_range_selects_nothing(self):
        doc = doc_for_token_lines([["token1", "token2"]])
        assert pending_token_texts(doc, (6, 7)) == []


class TestTokenizer:
    def test_keeps_separators_and_splits_camel_case(self):
        assert tokenize_text("fooBar baz-1") == ["foo", "Bar", " ", "baz", "-", "1"]

    def test_reference_tokenize_text_cases(self):
        """Ported verbatim from the reference's TestTokenizeText
        (tests/structured_document/grobid_training_tei_test.py:71-98)."""
        assert tokenize_text("A") == ["A"]
        assert tokenize_text("A B") == ["A", " ", "B"]
        assert tokenize_text(" A") == [" ", "A"]
        assert tokenize_text("A ") == ["A", " "]
        assert tokenize_text(" ,A, ") == [" ", ",", "A", ",", " "]
        assert tokenize_text(" .A. ") == [" ", ".", "A", ".", " "]
        assert tokenize_text(" <{[(A)]}> ") == list(" <{[(A)]}> ")
        assert tokenize_text("Abc") == ["Abc"]
        assert tokenize_text("abcDEF") == ["abc", "DEF"]

    def test_extracted_text_is_fixpoint(self):
        """Tokenizing the extracted text again reproduces it byte-identically
        (the canonical-form property behind the per-url invariant)."""
        doc = tokenize_lines(["Some  title", "a-b  (c)", "tail  "])
        again = tokenize_lines(doc.extracted_text.split("\n"))
        assert again.extracted_text == doc.extracted_text

    def test_offsets_slice_extracted_text(self):
        doc = tokenize_lines(["Hello there", "second line"])
        for token in doc.iter_tokens():
            assert doc.extracted_text[token.start : token.end] == token.text


class TestRunsText:
    """Lines' runs joined with '\\n' (the reference's SequencesText)."""

    def test_runs_joined_with_newline_and_token_mapping(self):
        doc = doc_for_token_lines([["a", "b"], ["c"]])
        assert MatcherView(doc).pending().text == "a b\nc"
        assert pending_token_texts(doc, (0, 5)) == ["a", "b", "c"]
        assert pending_token_texts(doc, (4, 5)) == ["c"]


# one token: (text, recorded whitespace, tagged before the view, tagged after)
_tokens = st.tuples(
    st.sampled_from(["a", "Bc", "D\u2014e", "'x", "&apos;", "9", ".", ","]),
    st.sampled_from([None, "", " ", "\t", "\xa0", "\u2009"]),
    st.booleans(),
    st.booleans(),
)
_lines = st.lists(st.lists(_tokens, max_size=6), max_size=6)


def _oracle_sub_runs(lines, first):
    """Sub-runs as lists of (flat index, normalised text, whitespace): the
    tokens untagged before the view, split at the ones tagged after it, from
    flat index ``first`` on."""
    sub_runs = []
    flat = 0
    for line in lines:
        run = []
        for text, ws, pre, post in line:
            if not pre:
                if post:
                    if run:
                        sub_runs.append(run)
                    run = []
                else:
                    run.append((flat, normalise_str(text), " " if ws is None else ws))
            flat += 1
        if run:
            sub_runs.append(run)
    return [run for run in sub_runs if run[0][0] >= first]


def _check_pending(view, lines, first, limit):
    text = view.pending(first, limit)
    sub_runs = _oracle_sub_runs(lines, first)
    if limit:
        sub_runs = sub_runs[:limit]
    # naive join and the character -> token map of every position
    chars = []
    owner = []
    bounds = []
    for k, run in enumerate(sub_runs):
        if k:
            chars.append("\n")
            owner.append(None)
        run_start = len(chars)
        for j, (flat, norm, ws) in enumerate(run):
            chars.extend(norm)
            owner.extend([flat] * len(norm))
            if j + 1 < len(run):
                chars.extend(ws)
                owner.extend([None] * len(ws))
        bounds.append((run_start, len(chars)))
    assert text.text == "".join(chars)
    assert list(zip(text.starts, text.ends)) == bounds
    # the masked view drops exactly ' ', '\t' and '\n' and maps back to them
    unmasked = [i for i, ch in enumerate(chars) if ch not in " \t\n"]
    assert text.masked.masked == "".join(chars[i] for i in unmasked)
    assert [text.masked.original_index(i) for i in range(len(unmasked))] == unmasked
    assert [[flat for flat, _, _ in run] for run in sub_runs] == [run.indices for run in text.runs]
    for start in range(len(chars)):
        for end in range(start + 1, len(chars) + 1):
            expected = sorted({flat for flat in owner[start:end] if flat is not None})
            assert text.token_indices_between((start, end)) == expected


@settings(max_examples=300, deadline=None)
@given(
    _lines,
    st.integers(min_value=0, max_value=40),
    st.sampled_from([None, 1, 2, 5]),
    st.booleans(),
)
def test_pending_text_matches_naive_oracle(lines, first, limit, read_after_tagging):
    doc = TokenizedDoc(
        [
            [Token(text, ws, 0, 0, line_index) for text, ws, _, _ in line]
            for line_index, line in enumerate(lines)
        ],
        "",
    )
    flags = [(pre, post) for line in lines for _, _, pre, post in line]
    for token, (pre, _) in zip(doc.iter_tokens(), flags):
        token.tag = "b-x" if pre else None
    view = MatcherView(doc)
    untagged = [[(text, ws, pre, False) for text, ws, pre, _ in line] for line in lines]
    _check_pending(view, untagged, first, limit)
    newly_tagged = [i for i, (pre, post) in enumerate(flags) if post and not pre]
    view.tag_tokens(newly_tagged, ["i-y"] * len(newly_tagged))
    if read_after_tagging:
        _check_pending(view, lines, first, limit)
    # the next fixpoint round leaves every tagged token out
    view.next_round()
    _check_pending(
        view,
        [[(text, ws, pre or post, False) for text, ws, pre, post in line] for line in lines],
        first,
        limit,
    )
