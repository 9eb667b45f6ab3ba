"""Doc-model tests ported from tests/annotation/matching_utils_test.py plus
tokenizer round-trip invariants, and the matcher view's pending text against a
naive oracle."""

import re
import sys

from hypothesis import given, settings, strategies as st

from sciencebeam_trainer_grobid_tools_spark.kernel.doc import (
    TokenizedDoc,
    join_with_index_ranges,
    split_camel_case,
    tokenize_lines,
    tokenize_text,
)
from sciencebeam_trainer_grobid_tools_spark.operators.extract import text_to_lines
from sciencebeam_trainer_grobid_tools_spark.kernel.normalize import normalise_str
from sciencebeam_trainer_grobid_tools_spark.operators.annotate import MatcherView

from tests.conftest import doc_for_token_lines


def pending_token_texts(doc, index_range):
    view = MatcherView(doc)
    text = view.pending()
    return [doc.texts[i] for i in text.token_indices_between(index_range)]


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
        doc = TokenizedDoc.from_lines([[("token1", ""), ("token2", None)]])
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
        for text, start, end in zip(doc.texts, doc.starts, doc.ends):
            assert doc.extracted_text[start:end] == text


    def test_unicode_camel_case_is_split(self):
        assert tokenize_text("caf\u00e9Time") == ["caf\u00e9", "Time"]
        assert tokenize_text("abc\u0394x") == ["abc", "\u0394x"]
        assert tokenize_text("ab\u03b4\u0394x") == ["ab\u03b4", "\u0394x"]
        assert tokenize_lines(["caf\u00e9Time x"]).texts == ["caf\u00e9", "Time", "x"]


_CAMEL_CHARS = "aZb\u00e9\u00c9\u03b4\u0394\u01c5\u00df1_"


@settings(max_examples=500, deadline=None)
@given(st.text(alphabet=_CAMEL_CHARS, min_size=1, max_size=8))
def test_camel_split_matches_reference_rule_on_unicode_words(word):
    """The reference splits every word fragment with ``split_camel_case``
    (grobid_training_tei.py:224-231), ASCII or not."""
    assert tokenize_text(word) == split_camel_case(word)
    assert tokenize_lines([word]).texts == split_camel_case(word)


def test_regex_whitespace_class_is_str_isspace():
    """The tokenizer's ``\\s`` stands for the ``isspace`` test of the
    ``(\\W)`` split: they agree on every code point."""
    space = re.compile(r"\s")
    for code in range(sys.maxunicode + 1):
        c = chr(code)
        assert bool(space.fullmatch(c)) == c.isspace(), hex(code)



def test_upper_case_character_makes_str_islower_false():
    """The camelCase split passes over a token whose tail ``islower()``: no
    upper-case character can hide in a string that is lower case."""
    for code in range(sys.maxunicode + 1):
        c = chr(code)
        if c.isupper():
            assert not ("a" + c).islower(), hex(code)
            assert not ("a" + c + "b").islower(), hex(code)

_ORACLE_ASCII_CAMEL = re.compile(r"[a-z][A-Z]")


def _oracle_tokenize_text(text):
    """The per-fragment tokenizer: (\\W) split, camelCase split of every
    fragment with a lower->upper transition (any script)."""
    out = []
    for fragment in re.split(r"(\W)", text):
        if not fragment:
            continue
        if len(fragment) > 1 and (not fragment.isascii() or _ORACLE_ASCII_CAMEL.search(fragment)):
            out.extend(split_camel_case(fragment))
        else:
            out.append(fragment)
    return out


def _oracle_tokenize_lines(text_lines):
    """The per-fragment token loop the columnar tokenizer replaced: each
    non-space fragment records the fragment after it when that is
    whitespace, '' before another token, None at line end; the extracted
    text joins tokens with their whitespace (None -> ' '), a line's last
    token contributing none."""
    columns = {name: [] for name in ("texts", "whitespace", "starts", "ends")}
    line_starts = [0]
    out_parts = []
    pos = 0
    for line_index, raw_line in enumerate(text_lines):
        fragments = _oracle_tokenize_text(raw_line)
        last_ws = "no token"
        for i, fragment in enumerate(fragments):
            if fragment.isspace():
                continue
            nxt = fragments[i + 1] if i + 1 < len(fragments) else None
            ws = None if nxt is None else (nxt if nxt.isspace() else "")
            end = pos + len(fragment)
            for name, value in zip(columns, (fragment, ws, pos, end)):
                columns[name].append(value)
            emit_ws = " " if ws is None else ws
            out_parts.append(fragment + emit_ws)
            pos = end + len(emit_ws)
            last_ws = ws
        if last_ws != "no token":
            trailing = " " if last_ws is None else last_ws
            if trailing:
                out_parts[-1] = columns["texts"][-1]
                pos -= len(trailing)
        line_starts.append(len(columns["texts"]))
        if line_index + 1 < len(text_lines):
            out_parts.append("\n")
            pos += 1
    return columns, line_starts, "".join(out_parts)


# pieces of text_to_lines input: words (ASCII and non-ASCII camel
# transitions), separators, whitespace runs and line breaks
_PIECES = st.sampled_from(
    ["a", "b", "Z", "Ab", "aB", "caf\u00e9T", "\u03b4\u0394", "\u00c9x", "_", "7",
     ".", ",", "-", "(", "\u2014", " ", " ", "  ", "\t", "\xa0", "\u2009", "\n"]
)


@settings(max_examples=1000, deadline=None)
@given(st.lists(_PIECES, max_size=60).map("".join))
def test_tokenize_lines_matches_per_fragment_oracle(text):
    lines = text_to_lines(text)
    doc = tokenize_lines(lines)
    columns, line_starts, extracted_text = _oracle_tokenize_lines(lines)
    for name, values in columns.items():
        assert getattr(doc, name) == values, name
    assert doc.line_starts == line_starts
    assert doc.extracted_text == extracted_text
    for i, text in enumerate(doc.texts):
        assert doc.extracted_text[doc.starts[i] : doc.ends[i]] == text
    assert doc.tags == doc.sub_tags == doc.preserved_tags == [None] * len(doc.texts)


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
    doc = TokenizedDoc.from_lines([[(text, ws) for text, ws, _, _ in line] for line in lines])
    flags = [(pre, post) for line in lines for _, _, pre, post in line]
    doc.tags = ["b-x" if pre else None for pre, _ in flags]
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
