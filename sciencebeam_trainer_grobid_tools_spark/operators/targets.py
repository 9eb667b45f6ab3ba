"""Target-annotation extraction from ground-truth XML (JATS-style).

Re-implements the reference's XML-mapping semantics
(/root/reference/sciencebeam_trainer_grobid_tools/core/annotation/target_annotation.py):
an INI config maps field names to XPaths with dotted option suffixes
(``.children``, ``.children.concat``, ``.children.range``, ``.regex``,
``.extract-regex``, ``.match-multiple``, ``.bonding``, ``.require-next``,
``.unmatched-parent-text``, ``.priority``, ``.sub.<name>``) plus the simple
matcher's per-tag options (``.match-prefix-regex``, ``.alternative-spellings``,
``.merge``, ``.extend-to-line``, ``.block``, ``.max_chunks`` —
annotation/simple_matching_annotator.py:756-816).

Uses stdlib ``xml.etree.ElementTree`` with a dedicated XPath-1.0-subset
evaluator (``operators/xpath.py``) covering everything the reference's
shipped ``config/xml-mapping.conf`` needs — ``or``/``and``/``not()``
predicates, ``ancestor::``/``self::`` axes, unions, ``//`` — since the
container environment has no lxml.  Also implements the reference's outer
target-annotation semantics (annotation/target_annotation.py:36-130):
``.ignore``, ``.use-raw-text``, ``contains_raw_text`` auto-detection and
``get_raw_text_content`` word-boundary spacing.  The config is parsed once
on the driver and broadcast; extraction runs per row inside
``mapInPandas``.
"""

from __future__ import annotations

import configparser
import json
import re
import xml.etree.ElementTree as ET
from itertools import chain
from typing import Dict, List, Optional, Set, Tuple, Union

from ..kernel.normalize import strip_whitespace
from ..memo import IdentityMemo
from .annotate import TagConfig, TargetAnnotation
from .xpath import XPathContext


class MappingSuffix:
    REGEX = ".regex"
    EXTRACT_REGEX = ".extract-regex"
    MATCH_MULTIPLE = ".match-multiple"
    BONDING = ".bonding"
    REQUIRE_NEXT = ".require-next"
    CHILDREN = ".children"
    CHILDREN_CONCAT = ".children.concat"
    CHILDREN_RANGE = ".children.range"
    UNMATCHED_PARENT_TEXT = ".unmatched-parent-text"
    PRIORITY = ".priority"
    SUB = ".sub"
    # outer-module extensions (annotation/target_annotation.py:35-37)
    USE_RAW_TEXT = ".use-raw-text"
    IGNORE = ".ignore"


# ---------------------------------------------------------------------------
# config parsing


def parse_xml_mapping_string(config_text: str) -> Dict[str, Dict[str, str]]:
    """Parse the INI mapping into {section(root tag): {key: value}}
    (target_annotation.py:71-81)."""
    parser = configparser.ConfigParser(interpolation=None)
    parser.read_string(config_text)
    return {section: dict(parser.items(section)) for section in parser.sections()}


def _parse_regex_option(regex_str: Optional[str]) -> Optional[str]:
    """Optionally quoted regex (simple_matching_annotator.py:765-774)."""
    if not regex_str:
        return regex_str
    if len(regex_str) >= 2 and regex_str.startswith('"') and regex_str.endswith('"'):
        regex_str = regex_str[1:-1]
    re.compile(regex_str)
    return regex_str


def _parse_alternative_spellings(value: Optional[str]) -> Dict[str, List[str]]:
    """``Key=Alt 1,Alt 2`` per line (simple_matching_annotator.py:777-790)."""
    if not value:
        return {}
    result: Dict[str, List[str]] = {}
    for line in value.splitlines():
        line = line.strip()
        if not line:
            continue
        key, alternatives = line.split("=", maxsplit=1)
        result[key.strip()] = alternatives.strip().split(",")
    return result


def _parse_bool(value: Optional[str], default: bool) -> bool:
    if value is None:
        return default
    return value.strip().lower() in ("1", "true", "yes", "on", "y", "t")


def get_tag_config_map(xml_mapping: Dict[str, Dict[str, str]]) -> Dict[str, TagConfig]:
    """Flatten all sections and build per-field TagConfig
    (simple_matching_annotator.py:793-836)."""
    fields = {
        key
        for section in xml_mapping.values()
        for key in section.keys()
        if "." not in key
    }
    flat = {k: v for section in xml_mapping.values() for k, v in section.items()}
    return {
        field: TagConfig(
            match_prefix_regex=_parse_regex_option(flat.get(field + ".match-prefix-regex")),
            alternative_spellings=_parse_alternative_spellings(
                flat.get(field + ".alternative-spellings")
            ),
            merge_enabled=_parse_bool(flat.get(field + ".merge"), True),
            extend_to_line_enabled=_parse_bool(flat.get(field + ".extend-to-line"), True),
            max_chunks=int(flat.get(field + ".max_chunks", "1")),
            block_name=flat.get(field + ".block"),
        )
        for field in fields
    }


# ---------------------------------------------------------------------------
# XPath evaluation (operators/xpath.py subset evaluator)


def match_xpaths(
    node: ET.Element, xpaths: List[str], ctx: Optional[XPathContext] = None
) -> List[ET.Element]:
    """Concatenation of per-xpath matches, each in document order
    (annotation/target_annotation.py:59-62: ``chain(*[parent.xpath(s) ...])``).

    ``ctx`` carries parent pointers / document order for the whole tree;
    when omitted, ``node`` is treated as the document root.
    """
    if ctx is None:
        ctx = XPathContext(node)
    return ctx.findall_multi(node, xpaths)


def parse_xpaths(value: Optional[str]) -> Optional[List[str]]:
    """Multi-line xpath option -> list (target_annotation.py:213-214)."""
    if not value:
        return None
    return [line.strip() for line in value.strip().split("\n") if line.strip()]


# ---------------------------------------------------------------------------
# text content helpers (semantics of sciencebeam_utils.utils.xml)


def text_content(node: ET.Element, exclude: Optional[Set[int]] = None) -> str:
    """All text in the subtree; excluded elements contribute only their tail."""
    parts: List[str] = [node.text or ""]
    for child in node:
        if not exclude or id(child) not in exclude:
            parts.append(text_content(child, exclude))
        parts.append(child.tail or "")
    return "".join(parts)


def immediate_text(node: ET.Element) -> List[str]:
    parts = [node.text or ""] + [child.tail or "" for child in node]
    return [p for p in parts if p]


def stripped_text_content(node: ET.Element, exclude: Optional[Set[int]] = None) -> str:
    return strip_whitespace(text_content(node, exclude).strip())


# ---------------------------------------------------------------------------
# raw text content (annotation/target_annotation.py:40-71)


def contains_raw_text(element: ET.Element) -> bool:
    """True if the element has meaningful direct text / child tails
    (annotation/target_annotation.py:40-48) — i.e. mixed content that a
    children-xpath decomposition would lose."""
    if element.text and element.text.strip():
        return True
    for child in element:
        if child.tail and child.tail.strip():
            return True
        if len(child) and contains_raw_text(child):
            return True
    return False


def _iter_text_and_exclude(
    node: ET.Element, exclude_ids: Optional[Set[int]]
) -> "chain[str]":
    """Text fragments of the subtree, skipping excluded elements' own text
    (their tails still contribute) — utils/xml.py:26-38."""
    if not exclude_ids:
        return node.itertext()

    def gen(n: ET.Element):
        if n.text is not None:
            yield n.text
        for child in n:
            if id(child) not in exclude_ids:
                yield from gen(child)
            if child.tail:
                yield child.tail

    return gen(node)


_ENDS_WITH_WORD = re.compile(r".*\w$", re.DOTALL)
_STARTS_WITH_WORD = re.compile(r"^\w")


def get_raw_text_content(
    node: ET.Element, exclude_ids: Optional[Set[int]] = None
) -> str:
    """Concatenate text fragments, inserting a space where a fragment ends
    with a word char and the next begins with one — so ``<label>1</label>raw``
    becomes ``1 raw`` but ``<label>1</label>, raw`` stays ``1, raw``
    (annotation/target_annotation.py:51-71)."""
    parts: List[str] = []
    for text in _iter_text_and_exclude(node, exclude_ids):
        if parts and _ENDS_WITH_WORD.match(parts[-1]) and _STARTS_WITH_WORD.match(text):
            parts.append(" ")
        parts.append(text)
    return "".join(parts)


def is_wildcard_children_xpaths(children_xpaths: Optional[List[str]]) -> bool:
    return children_xpaths == [".//*"]


# ---------------------------------------------------------------------------
# children / concat / range extraction (target_annotation.py:137-252)


def exclude_parents(
    children: List[ET.Element], ctx: XPathContext
) -> List[ET.Element]:
    all_parents = {
        id(parent)
        for child in children
        for parent in (ctx.parent_of(child),)
        if parent is not None
    }
    return [child for child in children if id(child) not in all_parents]


def _extract_children_source_list(
    parent: ET.Element,
    source_list: List[Dict[str, str]],
    ctx: XPathContext,
) -> Tuple[List[str], Set[int]]:
    used_nodes: Set[int] = set()
    values: List[str] = []
    for source in source_list:
        xpath = source.get("xpath")
        if xpath:
            matching = exclude_parents(match_xpaths(parent, [xpath], ctx), ctx)
            if not matching:
                return [], set()
            used_nodes |= {id(n) for n in matching}
            value = " ".join(stripped_text_content(n) for n in matching)
        else:
            value = source.get("value", "")
        values.append(value or "")
    return values, used_nodes


def _extract_children_concat(
    parent: ET.Element,
    children_concat: List[List[Dict[str, str]]],
    ctx: XPathContext,
) -> Tuple[List[str], Set[int]]:
    used_nodes: Set[int] = set()
    values: List[str] = []
    for concat_item in children_concat:
        item_values, item_used = _extract_children_source_list(parent, concat_item, ctx)
        used_nodes |= item_used
        if item_values:
            values.append("".join(item_values))
    return values, used_nodes


def _extract_children_range(
    parent: ET.Element,
    children_range: List[Dict[str, Dict[str, str]]],
    ctx: XPathContext,
) -> Tuple[List[str], List[str], Set[int]]:
    used_nodes: Set[int] = set()
    values: List[str] = []
    standalone_values: List[str] = []
    for range_item in children_range:
        item_values, item_used = _extract_children_source_list(
            parent, [range_item.get("min", {}), range_item.get("max", {})], ctx
        )
        if len(item_values) == 2:
            item_values = [s.strip() for s in item_values]
            if all(s.isdigit() for s in item_values):
                low, high = int(item_values[0]), int(item_values[1])
                range_values = [str(x) for x in range(low, high + 1)]
                if range_item.get("standalone"):
                    standalone_values.extend(range_values)
                else:
                    values.extend(range_values)
                used_nodes |= item_used
    return values, standalone_values, used_nodes


def _extract_children(
    parent: ET.Element,
    children_xpaths: List[str],
    children_concat: List[List[Dict[str, str]]],
    children_range: List[Dict[str, Dict[str, str]]],
    unmatched_parent_text: bool,
    ctx: XPathContext,
) -> Tuple[List[str], List[str]]:
    concat_values, concat_used = _extract_children_concat(parent, children_concat, ctx)
    range_values, standalone_values, range_used = _extract_children_range(
        parent, children_range, ctx
    )
    used_nodes = concat_used | range_used
    other_children = [
        node for node in match_xpaths(parent, children_xpaths, ctx) if id(node) not in used_nodes
    ]
    other_excl_parents = exclude_parents(other_children, ctx)
    text_values = [
        s
        for s in (
            [stripped_text_content(n).strip() for n in other_excl_parents]
            + [v.strip() for v in concat_values]
            + [v.strip() for v in range_values]
        )
        if s
    ]
    if len(other_excl_parents) != len(other_children):
        kept = {id(n) for n in other_excl_parents}
        for child in other_children:
            if id(child) not in kept:
                text_values.extend(s for s in (t.strip() for t in immediate_text(child)) if s)
    if unmatched_parent_text:
        value = stripped_text_content(
            parent, exclude={id(n) for n in other_children} | used_nodes
        ).strip()
        if value and value not in text_values:
            text_values.append(value)
    return text_values, standalone_values


# ---------------------------------------------------------------------------
# regex projections (target_annotation.py:129-134,279-301)


def _apply_pattern(s: str, compiled: "re.Pattern[str]") -> str:
    m = compiled.match(s)
    if m:
        return m.group(1)
    return s


def extract_using_regex(s: str, compiled: "re.Pattern[str]") -> Union[str, List[str]]:
    result: Optional[List[str]] = None
    start = 0
    for m in compiled.finditer(s):
        if result is None:
            result = []
        if start < m.start(1):
            result.append(s[start : m.start(1)].strip())
        result.append(m.group(1))
        start = m.end(1) + 1
    if result is None:
        return s
    if start < len(s):
        result.append(s[start:].strip())
    if len(result) == 1:
        return result[0]
    result.append(s)  # also include the full string
    return result


def _flatten_if_nested(values: List) -> List[str]:
    out: List[str] = []
    for v in values:
        if isinstance(v, list):
            out.extend(_flatten_if_nested(v))
        else:
            out.append(v)
    return out


# ---------------------------------------------------------------------------
# sub annotations (target_annotation.py:267-272,304-327)


def _get_sub_mapping(mapping: Dict[str, str], field: str) -> Dict[str, str]:
    prefix = field + MappingSuffix.SUB + "."
    return {
        k[len(prefix):]: v
        for k, v in mapping.items()
        if k.startswith(prefix) and "." not in k[len(prefix):]
    }


def _extract_sub_annotations(
    parent_node: ET.Element,
    sub_xpaths: Dict[str, str],
    ctx: XPathContext,
    sub_extract_compiled: Dict[str, Optional["re.Pattern[str]"]],
) -> List[TargetAnnotation]:
    if not sub_xpaths:
        return []
    sub_annotations: List[TargetAnnotation] = []
    for sub_tag, sub_xpath in sub_xpaths.items():
        compiled = sub_extract_compiled.get(sub_tag)
        for node in match_xpaths(parent_node, [sub_xpath], ctx):
            value: Union[str, List[str], None] = stripped_text_content(node)
            if compiled is not None and value:
                value = extract_using_regex(value, compiled)
            if value:
                sub_annotations.append(TargetAnnotation(value, sub_tag))
    return sub_annotations


# ---------------------------------------------------------------------------
# main entry (target_annotation.py:330-448)


class _FieldPlan:
    """Per-field mapping configuration, pre-parsed once per mapping dict.

    Everything here is a pure function of the mapping — regex compiles,
    json.loads of the children config, xpath splitting and the sub-mapping
    scans were previously recomputed for every DOCUMENT (hot on the flagship
    path: ~6 fields x 50k docs); the plan caches them per mapping object."""

    __slots__ = (
        "field",
        "match_multiple",
        "bonding",
        "require_next",
        "unmatched_parent_text",
        "ignore_xpaths",
        "children_xpaths",
        "children_concat",
        "children_range",
        "compiled",
        "extract_compiled",
        "priority",
        "sub_xpaths",
        "sub_extract_compiled",
        "use_raw_text_config",
        "xpaths",
    )

    def __init__(self, mapping: Dict[str, str], field: str):
        def flag(suffix: str) -> bool:
            return mapping.get(field + suffix) == "true"

        self.field = field
        self.match_multiple = flag(MappingSuffix.MATCH_MULTIPLE)
        self.bonding = flag(MappingSuffix.BONDING)
        self.require_next = flag(MappingSuffix.REQUIRE_NEXT)
        self.unmatched_parent_text = flag(MappingSuffix.UNMATCHED_PARENT_TEXT)
        self.ignore_xpaths = parse_xpaths(mapping.get(field + MappingSuffix.IGNORE))
        self.children_xpaths = parse_xpaths(mapping.get(field + MappingSuffix.CHILDREN))
        self.children_concat = json.loads(
            mapping.get(field + MappingSuffix.CHILDREN_CONCAT) or "[]"
        )
        self.children_range = json.loads(
            mapping.get(field + MappingSuffix.CHILDREN_RANGE) or "[]"
        )
        pattern = mapping.get(field + MappingSuffix.REGEX)
        self.compiled = re.compile(pattern) if pattern else None
        extract_pattern = mapping.get(field + MappingSuffix.EXTRACT_REGEX)
        self.extract_compiled = re.compile(extract_pattern) if extract_pattern else None
        self.priority = int(mapping.get(field + MappingSuffix.PRIORITY, "0"))
        self.sub_xpaths = _get_sub_mapping(mapping, field)
        self.sub_extract_compiled = {
            sub_tag: (re.compile(p) if p else None)
            for sub_tag in self.sub_xpaths
            for p in (
                mapping.get(
                    field + MappingSuffix.SUB + "." + sub_tag + MappingSuffix.EXTRACT_REGEX
                ),
            )
        }
        use_raw_text_value = mapping.get(field + MappingSuffix.USE_RAW_TEXT)
        self.use_raw_text_config = (
            _parse_bool(use_raw_text_value, False) if use_raw_text_value else None
        )
        self.xpaths = parse_xpaths(mapping[field])


# Owned by the mapping dict; mapping configs are tiny and few per process.
_FIELD_PLAN_CACHE = IdentityMemo(16)


def _field_plans(mapping: Dict[str, str]) -> List[_FieldPlan]:
    return _FIELD_PLAN_CACHE.get(
        mapping,
        None,
        lambda: [
            _FieldPlan(mapping, field) for field in mapping.keys() if "." not in field
        ],
    )


def xml_root_to_target_annotations(
    xml_root: ET.Element, xml_mapping: Dict[str, Dict[str, str]]
) -> List[TargetAnnotation]:
    if xml_root.tag not in xml_mapping:
        raise ValueError(
            "unrecognised root tag: %r (available: %r)"
            % (xml_root.tag, sorted(xml_mapping.keys()))
        )
    mapping = xml_mapping[xml_root.tag]
    ctx = XPathContext(xml_root)

    annotated: List[Tuple[Tuple, TargetAnnotation]] = []
    for plan in _field_plans(mapping):
        field = plan.field
        match_multiple = plan.match_multiple
        bonding = plan.bonding
        require_next = plan.require_next
        unmatched_parent_text = plan.unmatched_parent_text
        ignore_xpaths = plan.ignore_xpaths
        children_xpaths = plan.children_xpaths
        children_concat = plan.children_concat
        children_range = plan.children_range
        compiled = plan.compiled
        extract_compiled = plan.extract_compiled
        priority = plan.priority
        sub_xpaths = plan.sub_xpaths
        use_raw_text_config = plan.use_raw_text_config
        xpaths = plan.xpaths
        if not xpaths:
            continue
        for node in match_xpaths(xml_root, xpaths, ctx):
            node_pos = ctx.doc_position(node)
            sub_annotations = _extract_sub_annotations(
                node, sub_xpaths, ctx, plan.sub_extract_compiled
            )
            # wildcard children on mixed-content nodes fall back to raw text
            # (annotation/target_annotation.py:150-168)
            use_raw_text = (
                use_raw_text_config
                if use_raw_text_config is not None
                else contains_raw_text(node)
            )
            should_use_children = children_xpaths and (
                not is_wildcard_children_xpaths(children_xpaths) or not use_raw_text
            )
            if should_use_children:
                text_values, standalone_values = _extract_children(
                    node,
                    children_xpaths,
                    children_concat,
                    children_range,
                    unmatched_parent_text,
                    ctx,
                )
            else:
                exclude_ids = (
                    {id(n) for n in match_xpaths(node, ignore_xpaths, ctx)}
                    if ignore_xpaths
                    else None
                )
                stripped = strip_whitespace(
                    get_raw_text_content(node, exclude_ids)
                ).strip()
                text_values = [stripped] if stripped else []
                standalone_values = []
            if compiled:
                text_values = [v for v in (_apply_pattern(s, compiled) for s in text_values) if v]
            if extract_compiled:
                text_values = [
                    v for v in (extract_using_regex(s, extract_compiled) for s in text_values) if v
                ]
            text_values = _flatten_if_nested(text_values)
            if text_values:
                value: Union[str, List[str]] = (
                    text_values[0]
                    if len(text_values) == 1
                    else sorted(text_values, key=lambda s: -len(s))
                )
                annotated.append(
                    (
                        (-priority, node_pos),
                        TargetAnnotation(
                            value,
                            field,
                            match_multiple=match_multiple,
                            bonding=bonding,
                            require_next=require_next,
                            sub_annotations=sub_annotations,
                        ),
                    )
                )
            for i, standalone_value in enumerate(standalone_values):
                annotated.append(
                    (
                        (-priority, node_pos, i),
                        TargetAnnotation(
                            standalone_value,
                            field,
                            match_multiple=match_multiple,
                            bonding=bonding,
                            sub_annotations=sub_annotations,
                        ),
                    )
                )
    annotated.sort(key=lambda x: tuple(-1 if v is None else v for v in x[0]))
    return [t for _, t in annotated]


def xml_string_to_target_annotations(
    xml_text: Union[str, bytes], xml_mapping: Dict[str, Dict[str, str]]
) -> List[TargetAnnotation]:
    if isinstance(xml_text, bytes):
        xml_text = xml_text.decode("utf-8", errors="replace")
    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError:
        # broken-XML recovery (reference S5/F13: utils/xml.py:163-234, used
        # by the figure/table/fulltext flavors)
        from .xmlfix import fix_xml

        root = ET.fromstring(fix_xml(xml_text))
    return xml_root_to_target_annotations(root, xml_mapping)
