"""GROBID-training-TEI input loading with preserved tags (reference S3/P9).

Port of the reference's TEI structured-document load path
(structured_document/grobid_training_tei.py:280-330,552-598):

- lines split at ``<lb/>`` elements, text accumulated from ``element.text``
  and ``element.tail`` recursively;
- tokens inside a tagged element get B-/I- prefixed *path* tags (the path
  expression of their enclosing element, e.g. ``docTitle/titlePart``); a
  nested tagged element inside an already-tagged one becomes a level-2 (sub)
  tag;
- an element is tag-bearing when it has direct text or its path is one of the
  configured TEI paths (``root_paths = mapping.values()``);
- preserved-tag step: path tags are reverse-mapped to simple field names
  (``docTitle/titlePart -> title``) and moved onto the ``preserved_tags`` /
  ``sub_tags`` columns with current tags cleared — matchers then see an untagged
  document but post-processors and rendering can honor the original
  annotation.

Produces the engine's ``TokenizedDoc`` so all downstream operators apply
unchanged; used by the affiliation/reference flavors whose inputs arrive
pre-annotated at the main level.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import Dict, List, Optional, Set, Tuple, Union

from ..kernel.doc import TokenizedDoc, tokenize_text
from ..operators.annotate import B_PREFIX, I_PREFIX, add_tag_prefix, split_tag_prefix


def _node_to_tag_expression(node: ET.Element) -> str:
    """Element -> path fragment (grobid_training_tei.py:262-268)."""
    if not node.attrib:
        return node.tag
    key, value = list(node.attrib.items())[0]
    return '%s[@%s="%s"]' % (node.tag, key, value)


def _has_direct_text(element: ET.Element) -> bool:
    if element.text and element.text.strip():
        return True
    for child in element:
        if child.tail and child.tail.strip():
            return True
    return False


class _Fragment:
    __slots__ = ("text", "tag", "sub_tag")

    def __init__(self, text: str, tag: Optional[str], sub_tag: Optional[str]):
        self.text = text
        self.tag = tag
        self.sub_tag = sub_tag


class _TeiWriter:
    """TokenWriter semantics (grobid_training_tei.py:131-201): fragments carry
    the tag state at append time; B- flips to I- after the first non-space
    fragment."""

    def __init__(self) -> None:
        self.lines: List[List[_Fragment]] = []
        self.fragments: List[_Fragment] = []
        self.next_tag: Optional[str] = None
        self.next_sub_tag: Optional[str] = None

    def set_next_tag(self, tag: Optional[str]) -> None:
        self.next_tag = add_tag_prefix(tag, B_PREFIX)

    def set_next_sub_tag(self, tag: Optional[str]) -> None:
        self.next_sub_tag = add_tag_prefix(tag, B_PREFIX)

    def reset_next_tag(self) -> None:
        self.next_tag = None

    def reset_next_sub_tag(self) -> None:
        self.next_sub_tag = None

    def append_text(self, text: Optional[str]) -> None:
        if not text:
            return
        for fragment in tokenize_text(text):
            self.fragments.append(_Fragment(fragment, self.next_tag, self.next_sub_tag))
            if fragment.strip():
                self.next_tag = add_tag_prefix(split_tag_prefix(self.next_tag)[1], I_PREFIX)
                self.next_sub_tag = add_tag_prefix(
                    split_tag_prefix(self.next_sub_tag)[1], I_PREFIX
                )

    def flush_line(self) -> None:
        self.lines.append(self.fragments)
        self.fragments = []

    def finish(self) -> List[List[_Fragment]]:
        self.flush_line()
        return self.lines


def _extract_lines(
    element: ET.Element,
    writer: _TeiWriter,
    current_path: List[str],
    root_paths: frozenset,
) -> None:
    """grobid_training_tei.py:280-317."""
    previous_tag = writer.next_tag
    current_tag = "/".join(current_path) if current_path else None
    if _has_direct_text(element) or (current_tag in root_paths):
        if not previous_tag:
            writer.set_next_tag(current_tag)
        else:
            writer.set_next_sub_tag(current_tag)
    writer.append_text(element.text)
    for child in element:
        if child.tag == "lb":
            writer.flush_line()
        _extract_lines(
            child, writer, current_path + [_node_to_tag_expression(child)], root_paths
        )
    if not previous_tag:
        writer.reset_next_tag()
    else:
        writer.reset_next_sub_tag()
    writer.append_text(element.tail)


def _fragments_to_doc(fragment_lines: List[List[_Fragment]]) -> TokenizedDoc:
    """Non-space fragments become tokens; each records the whitespace
    fragment right after it, '' before another token, None at line end."""
    lines: List[List[Tuple[str, Optional[str]]]] = []
    metas: List[_Fragment] = []
    for fragments in fragment_lines:
        line: List[Tuple[str, Optional[str]]] = []
        for i, fragment in enumerate(fragments):
            if not fragment.text.strip():
                continue
            nxt = fragments[i + 1].text if i + 1 < len(fragments) else None
            if nxt is None:
                ws: Optional[str] = None
            elif not nxt.strip():
                ws = nxt
            else:
                ws = ""
            line.append((fragment.text, ws))
            metas.append(fragment)
        lines.append(line)
    doc = TokenizedDoc.from_lines(lines)
    doc.tags = [meta.tag for meta in metas]
    doc.sub_tags = [meta.sub_tag for meta in metas]
    return doc


def load_tei_doc(
    tei_xml: Union[str, bytes],
    tag_to_tei_path_mapping: Dict[str, str],
    container_path: str = "text/front",
    preserve_tags: bool = True,
) -> TokenizedDoc:
    """Parse raw training TEI into a TokenizedDoc with preserved tags."""
    if isinstance(tei_xml, (bytes, bytearray)):
        tei_xml = tei_xml.decode("utf-8", errors="replace")
    root = ET.fromstring(tei_xml)
    containers = root.findall("./" + container_path)
    writer = _TeiWriter()
    root_paths = frozenset(tag_to_tei_path_mapping.values())
    for container in containers:
        _extract_lines(container, writer, [], root_paths)
    doc = _fragments_to_doc(writer.finish())
    reverse = {v: k for k, v in tag_to_tei_path_mapping.items()}
    if preserve_tags:
        doc.preserved_tags = [
            add_tag_prefix(reverse.get(value, value), prefix)
            for prefix, value in map(split_tag_prefix, doc.tags)
        ]
    doc.tags = [None] * len(doc.tags)
    doc.sub_tags = [
        add_tag_prefix(reverse.get(sub_value, sub_value), prefix)
        if (preserve_tags and sub_value)
        else None
        for prefix, sub_value in map(split_tag_prefix, doc.sub_tags)
    ]
    return doc


def apply_preserve_policy(
    doc: TokenizedDoc,
    preserve_tags: bool,
    fields: Optional[Set[str]] = None,
    preserve_fields: Optional[Set[str]] = None,
    preserve_sub_tags: bool = False,
    no_preserve_sub_fields: Optional[Set[str]] = None,
) -> TokenizedDoc:
    """The reference's pre-annotation tag-mapping policy
    (annotation/annotator.py:73-113, annotate_structured_document_inplace):

    - with ``preserve_tags`` (or an explicit ``preserve_fields`` whitelist):
      keep preserved tags EXCEPT the fields being (re-)annotated
      (``fields - preserve_fields``); with a whitelist, drop everything not
      on it;
    - otherwise drop every preserved tag;
    - preserved SUB tags are dropped unless ``preserve_sub_tags``; with
      ``no_preserve_sub_fields``, those sub fields are dropped anyway.
    """
    exclude_fields = set(fields or ()) - set(preserve_fields or ())
    keep_main = bool(preserve_tags or preserve_fields)
    preserved_tags, sub_tags = doc.preserved_tags, doc.sub_tags
    for i, preserved_tag in enumerate(preserved_tags):
        if preserved_tag is not None:
            _, value = split_tag_prefix(preserved_tag)
            if not keep_main:
                preserved_tags[i] = None
            elif exclude_fields and value in exclude_fields:
                preserved_tags[i] = None
            elif preserve_fields and value not in preserve_fields:
                preserved_tags[i] = None
    for i, sub_tag in enumerate(sub_tags):
        if sub_tag is not None:
            _, sub_value = split_tag_prefix(sub_tag)
            if not preserve_sub_tags:
                sub_tags[i] = None
            elif no_preserve_sub_fields and sub_value in no_preserve_sub_fields:
                sub_tags[i] = None
    return doc
