"""TEI rendering tests (semantics of grobid_training_tei.py:443-531, assertion
style of tests/auto_annotate_header_test.py:75-140)."""

import re
import xml.etree.ElementTree as ET
from itertools import zip_longest

from hypothesis import given, settings, strategies as st

from sciencebeam_trainer_grobid_tools_spark.operators.annotate import (
    B_PREFIX,
    MatcherConfig,
    SimpleMatcher,
    TargetAnnotation,
    split_tag_prefix,
)
from sciencebeam_trainer_grobid_tools_spark.operators.tei_render import (
    HEADER_TAG_TO_TEI_PATH_MAPPING,
    render_tei_xml,
)

from tests.conftest import doc_for_texts


def render(doc):
    return render_tei_xml(doc, HEADER_TAG_TO_TEI_PATH_MAPPING)


def xpath_text(xml_str, path):
    root = ET.fromstring(xml_str)
    node = root.find(path)
    return "".join(node.itertext()) if node is not None else None


class TestTeiRender:
    def test_title_goes_to_doc_title_title_part(self):
        doc = doc_for_texts(["This is the title"])
        SimpleMatcher([TargetAnnotation("This is the title", "title")]).annotate(doc)
        xml = render(doc)
        assert xpath_text(xml, "text/front/docTitle/titlePart") == "This is the title"

    def test_untagged_goes_to_default_note(self):
        doc = doc_for_texts(["just some text"])
        xml = render(doc)
        assert xpath_text(xml, 'text/front/note[@type="other"]') == "just some text"

    def test_lb_between_lines(self):
        doc = doc_for_texts(["line one", "line two"])
        xml = render(doc)
        root = ET.fromstring(xml)
        assert len(root.findall("text/front/note/lb")) == 1

    def test_begin_prefix_starts_new_element(self):
        doc = doc_for_texts(["University of Science University of Madness"])
        SimpleMatcher(
            [
                TargetAnnotation(["1", "University of Science"], "author_aff"),
                TargetAnnotation(["2", "University of Madness"], "author_aff"),
            ],
            MatcherConfig(extend_to_line_enabled=False),
        ).annotate(doc)
        xml = render(doc)
        root = ET.fromstring(xml)
        affiliations = root.findall("text/front/byline/affiliation")
        assert ["".join(a.itertext()) for a in affiliations] == [
            "University of Science",
            "University of Madness",
        ]

    def test_title_and_author_sequence(self):
        doc = doc_for_texts(["The Title", "Mary Maison"])
        SimpleMatcher(
            [
                TargetAnnotation("The Title", "title"),
                TargetAnnotation(["Mary", "Maison"], "author"),
            ]
        ).annotate(doc)
        xml = render(doc)
        assert xpath_text(xml, "text/front/docTitle/titlePart") == "The Title"
        assert xpath_text(xml, "text/front/byline/docAuthor") == "Mary Maison"

    def test_unknown_field_note_fallback_mapping(self):
        mapping = dict(HEADER_TAG_TO_TEI_PATH_MAPPING)
        mapping["keywords"] = 'note[@type="keywords"]'
        doc = doc_for_texts(["alpha beta"])
        SimpleMatcher([TargetAnnotation("alpha beta", "keywords")]).annotate(doc)
        xml = render_tei_xml(doc, mapping)
        assert xpath_text(xml, 'text/front/note[@type="keywords"]') == "alpha beta"

    def test_whitespace_preserved_inside_element(self):
        doc = doc_for_texts(["a  b"])  # double space collapses in tokenizer join
        xml = render(doc)
        assert xpath_text(xml, 'text/front/note[@type="other"]') == "a b"


class TestTeiRoundTrip:
    def test_rendered_tei_reextracts_to_same_text(self):
        """S3 parity: rendered training TEI (with <lb/> line breaks) fed back
        through the extractor reproduces the same extracted text."""
        from sciencebeam_trainer_grobid_tools_spark.kernel.doc import tokenize_lines
        from sciencebeam_trainer_grobid_tools_spark.operators.extract import html_to_lines

        doc = doc_for_texts(["The Title here", "by Mary Maison", "Abstract text."])
        SimpleMatcher(
            [
                TargetAnnotation("The Title here", "title"),
                TargetAnnotation(["Mary", "Maison"], "author"),
            ]
        ).annotate(doc)
        xml = render(doc)
        reextracted = tokenize_lines(html_to_lines(xml)).extracted_text
        assert reextracted == doc.extracted_text


class TestLinesToTeiShapes:
    """Exact-XML shape cases ported from the reference's
    grobid_training_tei_test.py TestLinesToTei (:627-781): lb placement,
    whitespace ownership at tag boundaries, nested/common paths."""

    @staticmethod
    def _render(token_lines, tags, mapping=None):
        """token_lines: list of lines (list of token texts, '' = empty line);
        tags: parallel structure of tag names (None = untagged), consecutive
        same-tag tokens get B-/I- prefixes like the matcher emits."""
        from sciencebeam_trainer_grobid_tools_spark.kernel.doc import tokenize_lines
        from sciencebeam_trainer_grobid_tools_spark.operators.annotate import (
            B_PREFIX,
            I_PREFIX,
            add_tag_prefix,
        )
        from sciencebeam_trainer_grobid_tools_spark.operators.tei_render import (
            render_tagged_lines,
        )

        doc = tokenize_lines([" ".join(t for t in line if t) for line in token_lines])
        prev_tag = None
        flat_tags = [tag for line in tags for tag in line]
        tokens = list(doc.iter_tokens())
        assert len(tokens) == len(flat_tags), (tokens, flat_tags)
        for token, tag in zip(tokens, flat_tags):
            if tag is None:
                token.tag = None
            else:
                prefix = I_PREFIX if tag == prev_tag else B_PREFIX
                token.tag = add_tag_prefix(tag, prefix)
            prev_tag = tag
        container = ET.Element("front")
        render_tagged_lines(container, doc, mapping or {})
        return container

    def test_should_convert_single_token(self):
        front = self._render([["token1"]], [["tag1"]])
        children = list(front)
        assert [c.tag for c in children] == ["tag1"]
        assert children[0].text == "token1"

    def test_should_add_lb_element_before_token_with_tag(self):
        front = self._render([[], ["token1"]], [[], ["tag1"]])
        children = list(front)
        assert [c.tag for c in children] == ["lb", "tag1"]
        assert children[1].text == "token1"

    def test_should_add_lb_element_before_token_without_tag(self):
        front = self._render([[], ["token1"]], [[], [None]])
        children = list(front)
        assert [c.tag for c in children] == ["lb"]
        assert children[0].tail == "token1"

    def test_should_add_lb_element_before_tokens_without_tag(self):
        front = self._render([[], ["token1", "token2"]], [[], [None, None]])
        children = list(front)
        assert [c.tag for c in children] == ["lb"]
        assert children[0].tail == "token1 token2"

    def test_should_add_lb_within_tokens_with_same_tag(self):
        front = self._render([["token1"], ["token2"]], [["tag1"], ["tag1"]])
        # continuation line: force I- prefix across the line boundary
        assert (
            ET.tostring(front, encoding="unicode")
            == "<front><tag1>token1<lb /> token2</tag1></front>"
            or ET.tostring(front, encoding="unicode")
            == "<front><tag1>token1<lb />token2</tag1></front>"
        )

    def test_should_combine_tokens(self):
        front = self._render([["token1", "token2"]], [["tag1", "tag1"]])
        children = list(front)
        assert [c.tag for c in children] == ["tag1"]
        assert children[0].text == "token1 token2"

    def test_should_map_tag_to_tei_path(self):
        front = self._render([["token1"]], [["tag1"]], mapping={"tag1": "tag2"})
        children = list(front)
        assert [c.tag for c in children] == ["tag2"]
        assert children[0].text == "token1"

    def test_should_map_tag_to_nested_tei_path(self):
        front = self._render([["token1"]], [["tag1"]], mapping={"tag1": "parent/child"})
        children = list(front)
        assert [c.tag for c in children] == ["parent"]
        nested = list(children[0])
        assert [c.tag for c in nested] == ["child"]
        assert nested[0].text == "token1"

    def test_should_use_common_path_between_similar_nested_tag_paths(self):
        # the reference input has NO whitespace token between the two tokens
        # (TeiLine([TeiText token1, TeiText token2])) — expressed here with an
        # explicit empty whitespace on the first token
        from sciencebeam_trainer_grobid_tools_spark.operators.annotate import (
            B_PREFIX,
            add_tag_prefix,
        )
        from sciencebeam_trainer_grobid_tools_spark.operators.tei_render import (
            render_tagged_lines,
        )

        from tests.conftest import doc_for_token_lines

        doc = doc_for_token_lines([["token1", "token2"]])
        tokens = list(doc.iter_tokens())
        tokens[0].tag = add_tag_prefix("tag1", B_PREFIX)
        tokens[0].whitespace = ""
        tokens[1].tag = add_tag_prefix("tag2", B_PREFIX)
        front = ET.Element("front")
        render_tagged_lines(
            front, doc, {"tag1": "parent/child1", "tag2": "parent/child2"}
        )
        xml = ET.tostring(front, encoding="unicode").replace(" />", "/>")
        assert xml == (
            "<front><parent><child1>token1</child1>"
            "<child2>token2</child2></parent></front>"
        )

    def test_should_apply_default_tag(self):
        front = self._render([["token1"]], [[None]], mapping={"DEFAULT": "other"})
        children = list(front)
        assert [c.tag for c in children] == ["other"]
        assert children[0].text == "token1"

    def test_should_not_include_line_feed_in_tag_before_other_different_tag(self):
        """Tag boundary at a line break: the lb stays inside the FIRST tag and
        the following tag starts clean (grobid_training_tei_test.py:704-716;
        the reference's explicit standalone-space token has no counterpart in
        the canonical whitespace model — P6 collapses it)."""
        front = self._render([["token1"], ["token2"]], [["tag1"], ["tag2"]])
        xml = ET.tostring(front, encoding="unicode").replace(" />", "/>")
        assert xml == (
            "<front><tag1>token1<lb/></tag1><tag2>token2</tag2></front>"
        )


class TestSubTagQuirks:
    def test_b_sub_tag_outside_main_path_pops_to_container(self):
        """A ``b-`` sub tag whose sub path does not extend the main path is
        dropped, but its prefix still pops the writer to the container, so
        the main path is opened a second time (recorded on the per-token
        writer)."""
        from sciencebeam_trainer_grobid_tools_spark.operators.tei_render import (
            render_tagged_lines,
        )

        from tests.conftest import doc_for_token_lines

        doc = doc_for_token_lines([["by", "Mary", "Maison", "Smith"]])
        tokens = list(doc.iter_tokens())
        tokens[1].tag = "b-author"
        tokens[2].tag = "i-author"
        tokens[2].sub_tag = "b-surname"
        tokens[3].tag = "i-author"
        front = ET.Element("front")
        render_tagged_lines(front, doc, {
            "author": "byline/docAuthor",
            "surname": 'persName/surname[@type="x"]',
            "DEFAULT": 'note[@type="other"]',
        })
        assert ET.tostring(front, encoding="unicode") == (
            '<front><note type="other">by</note>'
            "<byline> <docAuthor>Mary</docAuthor></byline>"
            " <byline><docAuthor>Maison Smith</docAuthor></byline></front>"
        )


# --- property test against the per-token writer --------------------------
#
# The oracle below is the per-token tree-building FSM of the reference's
# ``_lines_to_tei`` (grobid_training_tei.py:443-549) as this package ported
# it before the writer moved to tag runs: every token splits its prefixes,
# resolves its paths and re-checks the open path on its own.

_ORACLE_TAG_EXPRESSION = re.compile(r'^([^\[]+)(\[@?([^=]+)="(.+)"\])?$')


def _oracle_create_node(tag_expression):
    match = _ORACLE_TAG_EXPRESSION.match(tag_expression)
    if not match:
        raise ValueError("invalid tag expression: %s" % tag_expression)
    element = ET.Element(match.group(1))
    if match.group(2):
        element.set(match.group(3), match.group(4))
    return element


def _oracle_common_path(path1, path2):
    common = []
    for p1, p2 in zip_longest(path1, path2):
        if p1 != p2:
            break
        common.append(p1)
    return common


def _oracle_required_path(tag, mapping):
    if tag:
        return mapping.get(tag, tag).split("/")
    default = mapping.get("DEFAULT")
    return default.split("/") if default else []


class _OracleWriter:
    def __init__(self, root):
        self.stack = [root]
        self.path = []

    def append_text(self, text):
        element = self.stack[-1]
        if len(element):
            element[-1].tail = (element[-1].tail or "") + text
        else:
            element.text = (element.text or "") + text

    def require_path(self, required):
        common = _oracle_common_path(self.path, required)
        for _ in range(len(self.path) - len(common)):
            self.stack.pop()
        self.path = list(common)
        for fragment in required[len(common):]:
            child = _oracle_create_node(fragment)
            self.stack[-1].append(child)
            self.stack.append(child)
            self.path.append(fragment)

    def require_path_or_below(self, required):
        self.require_path(_oracle_common_path(self.path, required))


def _oracle_render(container, doc, mapping):
    mapping = mapping or {}
    writer = _OracleWriter(container)
    pending = None
    for line_index, line in enumerate(doc.lines):
        if line_index:
            if pending:
                writer.require_path_or_below(writer.path)
                writer.append_text(pending)
                pending = None
            writer.stack[-1].append(ET.Element("lb"))
        for token_index, token in enumerate(line):
            sub_full = token.sub_tag
            main_prefix, main_tag = split_tag_prefix(token.tag or token.preserved_tag)
            sub_prefix, sub_tag = split_tag_prefix(sub_full)
            main_path = _oracle_required_path(main_tag, mapping)
            sub_path = _oracle_required_path(sub_tag, mapping) if sub_full else []
            if sub_full and _oracle_common_path(main_path, sub_path) != main_path:
                sub_full = None
                sub_path = []
            if main_prefix == B_PREFIX:
                writer.require_path(main_path[:-1])
            elif sub_prefix == B_PREFIX:
                writer.require_path_or_below(sub_path[:-1])
            required = sub_path if sub_full else main_path
            if pending:
                writer.require_path_or_below(required)
                writer.append_text(pending)
                pending = None
            writer.require_path(required)
            writer.append_text(token.text)
            if token.whitespace is not None:
                pending = token.whitespace or None
            else:
                pending = " " if token_index < len(line) - 1 else None
    return container


def _oracle_tei_xml(doc, mapping):
    root = ET.Element("tei")
    front = ET.SubElement(ET.SubElement(root, "text"), "front")
    _oracle_render(front, doc, mapping)
    return ET.tostring(root, encoding="unicode")


_FIELDS = ["title", "author", "aff", "surname", "given", "unknown"]
_MAPPINGS = [
    None,
    {},
    {
        "title": "docTitle/titlePart",
        "author": "byline/docAuthor",
        "aff": "byline/affiliation",
        "surname": 'byline/docAuthor/persName/surname[@type="s"]',
        "given": 'persName/forename[@type="first"]',
    },
    {
        "DEFAULT": 'note[@type="other"]',
        "title": "docTitle/titlePart",
        "author": "byline/docAuthor",
        "aff": 'byline/note[@type="aff"]',
        "surname": "byline/docAuthor/surname",
        "given": "byline/docAuthor/forename",
    },
    {"DEFAULT": "div/p", "title": "div", "author": "div/p/name", "surname": "div/p/name/s"},
]


def _tag(prefix_and_field):
    prefix, field = prefix_and_field
    return None if field is None else (prefix or "") + field


_TAGS = st.tuples(
    st.sampled_from([None, "b-", "i-"]), st.sampled_from([None] + _FIELDS)
).map(_tag)
_TOKENS = st.tuples(
    st.text(alphabet="ab&<>é1", min_size=1, max_size=3),
    st.sampled_from([None, "", " ", "\t", "\xa0"]),
    _TAGS,
    _TAGS,
    st.sampled_from([None, None, "title", "author"]),
)


@settings(max_examples=400, deadline=None)
@given(
    lines=st.lists(st.lists(_TOKENS, max_size=6), max_size=5),
    mapping=st.sampled_from(_MAPPINGS),
)
def test_render_matches_per_token_oracle(lines, mapping):
    from tests.conftest import doc_for_token_lines

    doc = doc_for_token_lines([[t[0] for t in line] for line in lines])
    for token, (_, whitespace, tag, sub_tag, preserved) in zip(
        doc.iter_tokens(), (t for line in lines for t in line)
    ):
        token.whitespace = whitespace
        token.tag = tag
        token.sub_tag = sub_tag
        token.preserved_tag = preserved
    assert render_tei_xml(doc, mapping) == _oracle_tei_xml(doc, mapping)
