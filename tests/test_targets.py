"""Target-annotation extraction tests (semantics pinned to
core/annotation/target_annotation.py via config patterns from
config/xml-mapping.conf)."""

import textwrap

from hypothesis import given, strategies as st

from sciencebeam_trainer_grobid_tools_spark.kernel.normalize import strip_whitespace
from sciencebeam_trainer_grobid_tools_spark.operators.targets import (
    get_tag_config_map,
    parse_xml_mapping_string,
    xml_string_to_target_annotations,
)

BASE_MAPPING = textwrap.dedent(
    """
    [article]
    title = front/article-meta/title-group/article-title
    title.extend-to-line = false
    abstract = front/article-meta/abstract
    abstract.match-prefix-regex = (abstract|summary)\\s*$
    abstract.max_chunks = 2
    doi = front/article-meta/article-id[@pub-id-type="doi"]
    author = front/article-meta/contrib-group/contrib/name
    author.children = .//*
    author.match-multiple = true
    author.bonding = true
    author.merge = true
    author_aff = front/article-meta/aff
    author_aff.children = .//*
    author_aff.unmatched-parent-text = true
    author_aff.sub.author_aff-label = ./label
    author_aff.sub.author_aff-country = ./country
    author_aff.alternative-spellings =
      United States=USA
    keywords = front/article-meta/kwd-group
    keywords.children = kwd
    keywords.children.concat = [[{"xpath": "kwd"}]]
    page_no = front/article-meta
    page_no.children = fpage|lpage
    page_no.children.range = [{"min": {"xpath": "fpage"}, "max": {"xpath": "lpage"}, "standalone": true}]
    """
)


def make_xml(**kwargs):
    title = kwargs.get("title", "The Title")
    abstract = kwargs.get("abstract", "")
    extra = kwargs.get("extra", "")
    return (
        "<article><front><article-meta>"
        "<title-group><article-title>%s</article-title></title-group>"
        "%s%s"
        "</article-meta></front></article>" % (title, abstract, extra)
    )


def extract(xml, mapping_text=BASE_MAPPING):
    return xml_string_to_target_annotations(xml, parse_xml_mapping_string(mapping_text))


class TestTargetExtraction:
    def test_simple_xpath(self):
        annotations = extract(make_xml(title="Hello World"))
        assert [(a.name, a.value) for a in annotations] == [("title", "Hello World")]

    def test_whitespace_canonicalization_fixpoint(self):
        annotations = extract(make_xml(title="Hello\t\t  World\n\n  again"))
        assert annotations[0].value == "Hello World\nagain"

    def test_attribute_predicate(self):
        xml = make_xml(extra='<article-id pub-id-type="doi">10.1/xyz</article-id>'
                             '<article-id pub-id-type="pmid">123</article-id>')
        annotations = extract(xml)
        by_name = {a.name: a for a in annotations}
        assert by_name["doi"].value == "10.1/xyz"
        assert "pmid" not in by_name

    def test_children_multiple_values_sorted_longest_first(self):
        xml = make_xml(
            extra="<contrib-group><contrib><name>"
            "<surname>Li</surname><given-names>Alexandra</given-names>"
            "</name></contrib></contrib-group>"
        )
        annotations = extract(xml)
        author = [a for a in annotations if a.name == "author"][0]
        assert author.value == ["Alexandra", "Li"]
        assert author.match_multiple and author.bonding

    def test_children_concat(self):
        xml = make_xml(extra="<kwd-group><kwd>alpha</kwd><kwd>beta</kwd></kwd-group>")
        annotations = extract(xml)
        keywords = [a for a in annotations if a.name == "keywords"][0]
        # concat consumes the kwd nodes and joins with space
        assert keywords.value == "alpha beta"

    def test_children_range_standalone(self):
        xml = make_xml(extra="<fpage>11</fpage><lpage>13</lpage>")
        annotations = extract(xml)
        pages = [a.value for a in annotations if a.name == "page_no"]
        assert pages == ["11", "12", "13"]

    def test_sub_annotations_and_unmatched_parent_text(self):
        xml = make_xml(
            extra="<aff><label>1</label><institution>Uni of Science</institution>"
            "<country>France</country></aff>"
        )
        annotations = extract(xml)
        aff = [a for a in annotations if a.name == "author_aff"][0]
        assert sorted(aff.value, key=len, reverse=True) == aff.value
        assert set(aff.value) == {"1", "Uni of Science", "France"}
        subs = {s.name: s.value for s in aff.sub_annotations}
        assert subs == {"author_aff-label": "1", "author_aff-country": "France"}

    def test_document_order_of_annotations(self):
        xml = make_xml(
            title="The Title",
            extra="<abstract>Some abstract text here</abstract>",
        )
        annotations = extract(xml)
        assert [a.name for a in annotations] == ["title", "abstract"]

    def test_priority_ordering(self):
        mapping = BASE_MAPPING + "\nabstract.priority = 5\n"
        xml = make_xml(title="The Title", extra="<abstract>Some abstract</abstract>")
        annotations = extract(xml, mapping)
        assert [a.name for a in annotations][0] == "abstract"


class TestTagConfigMap:
    # simple_matching_annotator_test.py:745-810
    def test_parse_flags_and_options(self):
        config_map = get_tag_config_map(
            {
                "any": {
                    "tag1": "xpath1",
                    "tag1.merge": "false",
                    "tag1.extend-to-line": "false",
                    "tag1.match-prefix-regex": "regex1",
                    "tag1.alternative-spellings": "\n Key 1=Alternative 1,Alternative 2\n",
                    "tag1.block": "block1",
                    "tag1.max_chunks": "2",
                    "tag2": "xpath2",
                }
            }
        )
        assert set(config_map.keys()) == {"tag1", "tag2"}
        tag1 = config_map["tag1"]
        assert tag1.merge_enabled is False
        assert tag1.extend_to_line_enabled is False
        assert tag1.match_prefix_regex == "regex1"
        assert tag1.alternative_spellings == {"Key 1": ["Alternative 1", "Alternative 2"]}
        assert tag1.block_name == "block1"
        assert tag1.max_chunks == 2
        tag2 = config_map["tag2"]
        assert tag2.merge_enabled is True
        assert tag2.extend_to_line_enabled is True
        assert tag2.max_chunks == 1
        assert tag2.block_name is None


@given(st.text(alphabet="ab \t\r\n"))
def test_stripped_text_is_a_fixpoint_of_strip_whitespace(text):
    """``stripped_text_content`` returns ``strip_whitespace(s.strip())``;
    sub annotations use that value as it is, since normalizing it again
    changes nothing."""
    stripped = strip_whitespace(text.strip())
    assert strip_whitespace(stripped).strip() == stripped
