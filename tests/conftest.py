import re
from typing import List, Optional

from sciencebeam_trainer_grobid_tools_spark.kernel.doc import TokenizedDoc


def tokens_for_text(text: str) -> List[str]:
    """Reference test builder: split on non-word chars, drop whitespace
    (tests/annotation/simple_matching_annotator_test.py:63-64)."""
    return [s for s in re.split(r"(\W)", text) if s.strip()]


def doc_for_token_lines(token_lines: List[List[str]]) -> TokenizedDoc:
    """Build a TokenizedDoc from explicit token texts per line, with
    unset whitespace (None -> single space in joins), mirroring the
    reference's SimpleToken-based test documents."""
    return TokenizedDoc.from_lines([[(text, None) for text in line] for line in token_lines])


def doc_for_texts(texts: List[str]) -> TokenizedDoc:
    return doc_for_token_lines([tokens_for_text(t) for t in texts])


def tag_values(doc: TokenizedDoc) -> List[Optional[str]]:
    from sciencebeam_trainer_grobid_tools_spark.operators.annotate import strip_tag_prefix

    return [strip_tag_prefix(tag) for tag in doc.tags]


def sub_tag_values(doc: TokenizedDoc) -> List[Optional[str]]:
    from sciencebeam_trainer_grobid_tools_spark.operators.annotate import strip_tag_prefix

    return [strip_tag_prefix(tag) for tag in doc.sub_tags]
