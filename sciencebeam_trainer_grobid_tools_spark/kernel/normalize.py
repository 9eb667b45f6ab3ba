"""String normalization functions (must be byte-exact with the reference).

Reference semantics:
- ``normalise_str``: annotation/matching_utils.py:47-52 (lowercase; em/en dash
  to '-'; thin space to ' '; ``&apos;`` and ``'`` to '"').
- ``strip_whitespace`` fixpoint: core/annotation/target_annotation.py:84-103.
- ``split_and_join_with_space``: annotation/simple_matching_annotator.py:48-56.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import List, Union

THIN_SPACE = "\u2009"
EN_DASH = "\u2013"
EM_DASH = "\u2014"

_NON_WORD_SPLIT = re.compile(r"(\W)")


@lru_cache(maxsize=65536)
def normalise_str(s: str) -> str:
    return (
        s.lower()
        .replace(EM_DASH, "-")
        .replace(EN_DASH, "-")
        .replace(THIN_SPACE, " ")
        .replace("&apos;", '"')
        .replace("'", '"')
    )


def normalise_str_or_list(value: Union[str, List[str]]):
    if isinstance(value, list):
        return [normalise_str(s) for s in value]
    return normalise_str(value)


def _replace_to_fixpoint(s: str, old: str, new: str) -> str:
    previous = None
    while s != previous:
        previous = s
        s = s.replace(old, new)
    return s


def strip_whitespace(s: str) -> str:
    """Canonicalize whitespace by repeated replacement to a fixpoint
    (tab->space, double space, CR->LF, space around LF, double LF)."""
    for old, new in (
        ("\t", " "),
        ("  ", " "),
        ("\r", "\n"),
        (" \n", "\n"),
        ("\n ", "\n"),
        ("\n\n", "\n"),
    ):
        s = _replace_to_fixpoint(s, old, new)
    return s


def split_and_join_with_space(text: str) -> str:
    """Re-tokenize a needle the way document text is tokenized and join with
    single spaces, so it compares against token-joined document text."""
    return " ".join(t for t in _NON_WORD_SPLIT.split(text) if t.strip())
