"""TEI training-XML rendering (SURVEY.md §2.11).

Run-level port of the reference's ``_lines_to_tei`` tree-building FSM
(structured_document/grobid_training_tei.py:361-549): map tag values to TEI
paths (e.g. ``title -> docTitle/titlePart``), open/close nested elements on
B- prefixes with common-path reuse, keep whitespace pending until the next
token decides its container, emit ``<lb/>`` between lines, and place
sub-tagged tokens at their sub-path when it extends the main path.  The
reference does all this per token; here a line is cut into tag runs, the
maximal stretches of tokens with one resolved path where no token after the
first has a B- prefix (main or sub tag).  The reference's steps are no-ops
for those later tokens, so only a run's first token does them and the run's
texts and inner whitespace go in with one ``"".join``; a line with no tag at
all is one run, its slice of the extracted text.

Stdlib ``xml.etree.ElementTree`` (no lxml in this environment); a parent
stack replaces lxml's ``getparent``.  Unknown fields fall back to
``note[@type="<field>"]`` like the reference entry points
(auto_annotate_header.py:68-71).  The span table stays the engine's primary
output; this serialization is for parity checks and GROBID-training interchange.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from typing import Dict, Iterable, List, Optional, Tuple

from ..kernel.doc import TokenizedDoc
from .annotate import B_PREFIX, split_tag_prefix

DEFAULT_TAG_KEY = "DEFAULT"

# header flavor mapping (auto_annotate_header.py:32-39)
HEADER_TAG_TO_TEI_PATH_MAPPING = {
    DEFAULT_TAG_KEY: 'note[@type="other"]',
    "title": "docTitle/titlePart",
    "abstract": 'div[@type="abstract"]',
    "author": "byline/docAuthor",
    "author_aff": "byline/affiliation",
    "line_no": 'note[@type="line_no"]',
}


def with_field_notes(mapping: Dict[str, str], fields: Iterable[str]) -> Dict[str, str]:
    """A copy of ``mapping`` where each of ``fields`` it has no path for
    renders as ``note[@type="<field>"]`` (auto_annotate_header.py:68-71)."""
    out = dict(mapping)
    for field in fields:
        out.setdefault(field, 'note[@type="%s"]' % field)
    return out


_TAG_EXPRESSION = re.compile(r'^([^\[]+)(\[@?([^=]+)="(.+)"\])?$')

Path = Tuple[str, ...]
Key = Tuple[Optional[str], Optional[str]]  # (tag or preserved_tag, sub_tag)


def _parse_fragment(tag_expression: str) -> Tuple[str, Dict[str, str]]:
    """``tag[@attr="value"]`` -> (tag, attrib) (grobid_training_tei.py:249-259)."""
    match = _TAG_EXPRESSION.match(tag_expression)
    if not match:
        raise ValueError("invalid tag expression: %s" % tag_expression)
    return match.group(1), ({match.group(3): match.group(4)} if match.group(2) else {})


def _required_path(tag: Optional[str], mapping: Dict[str, str]) -> Path:
    if tag:
        return tuple(mapping.get(tag, tag).split("/"))
    default = mapping.get(DEFAULT_TAG_KEY)
    return tuple(default.split("/")) if default else ()


class _RunPlan:
    """What a run's first token does, per key: a B- prefix re-opens at depth
    ``reopen`` (opening up to there for the main tag, only closing for the
    sub tag), then ``required`` opens (the sub path when it extends the main
    path).  ``joins``: the run path a token with this key continues, or None."""

    __slots__ = ("required", "nodes", "reopen", "reopen_opens", "joins")

    def __init__(self, key: Key, mapping: Dict[str, str], paths: Dict[Path, tuple]):
        main_prefix, main_tag = split_tag_prefix(key[0])
        sub_prefix, sub_tag = split_tag_prefix(key[1])
        main_path = _required_path(main_tag, mapping)
        sub_path = _required_path(sub_tag, mapping) if key[1] else ()
        if sub_path[:len(main_path)] != main_path:
            sub_path = ()  # dropped, but its B- prefix still closes below it
        required = sub_path or main_path
        if required not in paths:
            # one tuple per path, so runs compare paths by identity
            paths[required] = (required, [_parse_fragment(f) for f in required])
        self.required, self.nodes = paths[required]
        self.reopen_opens = main_prefix == B_PREFIX
        self.reopen = (max(len(main_path) - 1, 0) if self.reopen_opens
                       else max(len(sub_path) - 1, 0) if sub_prefix == B_PREFIX else None)
        self.joins = self.required if self.reopen is None else None


class _TreeWriter:
    """XmlTreeWriter with an explicit parent stack (ET has no getparent)."""

    def __init__(self, root: ET.Element):
        self.stack: List[ET.Element] = [root]
        self.path: List[str] = []

    def append_text(self, text: str) -> None:
        element = self.stack[-1]
        if len(element):
            element[-1].tail = (element[-1].tail or "") + text
        else:
            element.text = (element.text or "") + text

    def close_below_common(self, required: Path, depth: int) -> None:
        """The reference's ``require_path_or_below(required[:depth])``."""
        path = self.path
        keep = 0
        while keep < depth and keep < len(path) and path[keep] == required[keep]:
            keep += 1
        del self.stack[keep + 1:]
        del path[keep:]

    def require(self, plan: _RunPlan, depth: int) -> None:
        """The reference's ``require_path(plan.required[:depth])``."""
        self.close_below_common(plan.required, depth)
        for i in range(len(self.path), depth):
            self.stack.append(ET.SubElement(self.stack[-1], *plan.nodes[i]))
            self.path.append(plan.required[i])

    def start_run(self, plan: _RunPlan, pending: Optional[str]) -> None:
        if plan.reopen_opens:
            self.require(plan, plan.reopen)
        elif plan.reopen is not None:
            self.close_below_common(plan.required, plan.reopen)
        if pending:
            self.close_below_common(plan.required, len(plan.required))
            self.append_text(pending)
        self.require(plan, len(plan.required))


def render_tagged_lines(
    container: ET.Element,
    doc: TokenizedDoc,
    tag_to_tei_path_mapping: Optional[Dict[str, str]] = None,
) -> ET.Element:
    """Write the document's tagged tokens into ``container``
    (grobid_training_tei.py:443-531), one tag run at a time."""
    mapping = tag_to_tei_path_mapping or {}
    plans: Dict[Key, _RunPlan] = {}
    paths: Dict[Path, tuple] = {}
    writer = _TreeWriter(container)

    def plan_for(key: Key) -> _RunPlan:
        return plans.get(key) or plans.setdefault(key, _RunPlan(key, mapping, paths))

    texts, whitespace = doc.texts, doc.whitespace
    tags, sub_tags, preserved_tags = doc.tags, doc.sub_tags, doc.preserved_tags
    marked = any(tags) or any(sub_tags) or any(preserved_tags)
    bounds = doc.line_starts
    last_line = len(bounds) - 2
    for line_index, (a, b) in enumerate(zip(bounds, bounds[1:])):
        if line_index:
            ET.SubElement(writer.stack[-1], "lb")
        if a == b:
            continue
        # the open run's token texts, each followed by its whitespace:
        # recorded whitespace as-is, an unset value a single space
        parts: List[str] = []
        if not marked or not (any(tags[a:b]) or any(sub_tags[a:b]) or any(preserved_tags[a:b])):
            # a line with no tag at all is one run: its unbroken slice of the
            # extracted text (TokenizedDoc.keep() leaves only tagged lines)
            writer.start_run(plan_for((None, None)), None)
            parts += (doc.extracted_text[doc.starts[a] : doc.ends[b - 1]], whitespace[b - 1] or "")
        else:
            run_path: Optional[Path] = None
            for i in range(a, b):
                plan = plan_for((tags[i] or preserved_tags[i], sub_tags[i]))
                if plan.joins is not run_path or not parts:
                    # the last run's trailing whitespace goes where this run puts it
                    pending = parts.pop() if parts else None
                    if parts:
                        writer.append_text("".join(parts))
                        parts = []
                    writer.start_run(plan, pending)
                    run_path = plan.required
                ws = whitespace[i]
                parts += (texts[i], " " if ws is None else ws)
        # whitespace before a line break stays where we are, except an unset
        # one (the reference has no space token there) or after the last line
        if line_index == last_line or whitespace[b - 1] is None:
            parts.pop()
        writer.append_text("".join(parts))
    return container


def render_tei_xml(
    doc: TokenizedDoc,
    tag_to_tei_path_mapping: Optional[Dict[str, str]] = None,
    container_path: Tuple[str, ...] = ("text", "front"),
) -> str:
    """Serialize a full GROBID-training-TEI document string with the tagged
    tokens inside ``tei/<container_path>``."""
    root = ET.Element("tei")
    container = root
    for name in container_path:
        child = ET.Element(name)
        container.append(child)
        container = child
    render_tagged_lines(container, doc, tag_to_tei_path_mapping)
    return ET.tostring(root, encoding="unicode")
