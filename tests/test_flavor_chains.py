"""First-class flavor chains end-to-end (plans/flavors.py), golden cases
ported from the reference's entry-point tests:

- affiliation: tests/auto_annotate_affiliation_address_test.py:81-190
- figure/table: tests/auto_annotate_figure_test.py:69-141,
  tests/auto_annotate_table_test.py:69-141
- reference-segmenter: tests/auto_annotate_reference_segmenter_test.py:70-130

Each case drives: TEI raw input -> load (preserved tags) -> target-XML
extraction (shipped-config mapping sections) -> flavor chain -> TEI render
-> golden XPath assertions.
"""

import textwrap
import xml.etree.ElementTree as ET

from sciencebeam_trainer_grobid_tools_spark.kernel.doc import tokenize_lines
from sciencebeam_trainer_grobid_tools_spark.operators.annotate import MatcherConfig
from sciencebeam_trainer_grobid_tools_spark.operators.extract import html_to_lines
from sciencebeam_trainer_grobid_tools_spark.operators.targets import (
    get_tag_config_map,
    parse_xml_mapping_string,
    xml_string_to_target_annotations,
)
from sciencebeam_trainer_grobid_tools_spark.operators.tei_render import render_tagged_lines
from sciencebeam_trainer_grobid_tools_spark.plans.flavors import (
    affiliation_flavor,
    default_flavor,
    figure_flavor,
    table_flavor,
)
from sciencebeam_trainer_grobid_tools_spark.sources.tei import load_tei_doc


def texts(root: ET.Element, path: str):
    return ["".join(n.itertext()) for n in root.findall(path)]


def render(doc, mapping, container_tag="text") -> ET.Element:
    container = ET.Element(container_tag)
    render_tagged_lines(container, doc, mapping)
    return container


# ---------------------------------------------------------------------------
# reference segmenter

# shipped config/xml-mapping.conf:199-230 (reference + label sub field)
REFSEG_XML_MAPPING = textwrap.dedent(
    """
    [article]
    reference = back/ref-list/ref
    reference.children = .//*
    reference.use-raw-text = true
    reference.bonding = true
    reference.merge = false
    reference.sub.reference-label = ./label
    """
)

# auto_annotate_reference_segmenter.py:30-34
REFSEG_TEI_MAPPING = {
    "DEFAULT": 'note[@type="other"]',
    "reference": "listBibl/bibl",
    "reference-label": "listBibl/bibl/label",
}


def run_refseg(tei_raw: str, target_xml: str, **flavor_kwargs) -> ET.Element:
    mapping = parse_xml_mapping_string(REFSEG_XML_MAPPING)
    doc = tokenize_lines(html_to_lines(tei_raw))
    targets = xml_string_to_target_annotations(target_xml, mapping)
    chain = default_flavor(
        MatcherConfig(
            use_sub_annotations=True, tag_config_map=get_tag_config_map(mapping)
        ),
        **flavor_kwargs,
    )
    chain(doc, targets)
    return render(doc, REFSEG_TEI_MAPPING)


def jats_with_refs(*refs: str) -> str:
    return (
        "<article><front/><body/><back><ref-list>%s</ref-list></back></article>"
        % "".join(refs)
    )


class TestReferenceSegmenterFlavor:
    # auto_annotate_reference_segmenter_test.py:70-93
    def test_single_reference_label_and_text(self):
        tei_raw = "<tei><text><note>1 reference A</note></text></tei>"
        target = jats_with_refs(
            "<ref><label>1</label><mixed-citation>reference A</mixed-citation></ref>"
        )
        out = run_refseg(tei_raw, target)
        assert texts(out, ".//listBibl/bibl") == ["1 reference A"]
        assert texts(out, ".//listBibl/bibl/label") == ["1"]

    # auto_annotate_reference_segmenter_test.py:95-130 — sub tags other than
    # the label stay untagged inside the bibl
    def test_does_not_emit_other_sub_tags(self):
        tei_raw = "<tei><text><note>1 article title A source A</note></text></tei>"
        target = jats_with_refs(
            "<ref><label>1</label><mixed-citation>"
            "<article-title>article title A</article-title> <source>source A</source>"
            "</mixed-citation></ref>"
        )
        out = run_refseg(tei_raw, target)
        assert texts(out, ".//listBibl/bibl") == ["1 article title A source A"]
        assert texts(out, ".//listBibl/bibl/label") == ["1"]
        # no nested elements besides the label
        bibl = out.find(".//listBibl/bibl")
        assert [child.tag for child in bibl] == ["label"]

    def test_multiple_references_separate_bibls(self):
        tei_raw = (
            "<tei><text><note>1 reference A<lb/>2 reference B</note></text></tei>"
        )
        target = jats_with_refs(
            "<ref><label>1</label><mixed-citation>reference A</mixed-citation></ref>",
            "<ref><label>2</label><mixed-citation>reference B</mixed-citation></ref>",
        )
        out = run_refseg(tei_raw, target)
        assert texts(out, ".//listBibl/bibl") == ["1 reference A", "2 reference B"]

    def test_untagged_text_becomes_note(self):
        tei_raw = (
            "<tei><text><note>References heading<lb/>1 reference A</note></text></tei>"
        )
        target = jats_with_refs(
            "<ref><label>1</label><mixed-citation>reference A</mixed-citation></ref>"
        )
        out = run_refseg(tei_raw, target)
        assert texts(out, ".//listBibl/bibl") == ["1 reference A"]
        assert "References heading" in " ".join(texts(out, ".//note"))


# ---------------------------------------------------------------------------
# affiliation

# shipped config/xml-mapping.conf:36-56 subset
AFFILIATION_XML_MAPPING = textwrap.dedent(
    """
    [article]
    author_aff =
      front/article-meta/contrib-group/aff
      front/article-meta/aff
    author_aff.children = .//*
    author_aff.unmatched-parent-text = true
    author_aff.match-multiple = true
    author_aff.sub.author_aff-label = ./label
    author_aff.sub.author_aff-department = ./addr-line/named-content[@content-type="department"]
    author_aff.sub.author_aff-institution = ./institution
    author_aff.sub.author_aff-address-city = ./addr-line/named-content[@content-type="city"]
    author_aff.sub.author_aff-address-postcode = ./addr-line/named-content[@content-type="postcode"]
    author_aff.sub.author_aff-address-state = ./addr-line/named-content[@content-type="state"]
    author_aff.sub.author_aff-address-country = ./country
    author_aff.match-prefix-regex = ({author_aff-label})\\s*[\\.-]*\\s*$
    """
)

# auto_annotate_affiliation_address.py:56-69 (without the tei: ns prefix)
AFFILIATION_TEI_MAPPING = {
    "DEFAULT": 'note[@type="other"]',
    "author_aff": "affiliation",
    "author_aff-label": "affiliation/marker",
    "author_aff-department": 'affiliation/orgName[@type="department"]',
    "author_aff-institution": 'affiliation/orgName[@type="institution"]',
    "author_aff-address": "affiliation/address",
    "author_aff-address-city": "affiliation/address/settlement",
    "author_aff-address-postcode": "affiliation/address/postCode",
    "author_aff-address-state": "affiliation/address/region",
    "author_aff-address-country": "affiliation/address/country",
}

AFFILIATION_LOAD_MAPPING = {"author_aff": "affiliation"}


def run_affiliation(tei_raw: str, target_xml: str, **flavor_kwargs) -> ET.Element:
    mapping = parse_xml_mapping_string(AFFILIATION_XML_MAPPING)
    doc = load_tei_doc(tei_raw, AFFILIATION_LOAD_MAPPING)
    targets = xml_string_to_target_annotations(target_xml, mapping)
    chain = affiliation_flavor(
        MatcherConfig(
            use_sub_annotations=True,
            extend_to_line_enabled=False,
            tag_config_map=get_tag_config_map(mapping),
        ),
        **flavor_kwargs,
    )
    chain(doc, targets)
    return render(doc, AFFILIATION_TEI_MAPPING, container_tag="front")


def jats_with_affs(*affs: str) -> str:
    return (
        "<article><front><article-meta><contrib-group>%s</contrib-group>"
        "</article-meta></front><body/><back/></article>" % "".join(affs)
    )


class TestAffiliationFlavor:
    # auto_annotate_affiliation_address_test.py:81-109
    def test_single_affiliation_with_label(self):
        tei_raw = (
            "<tei><text><front><affiliation>1 Some text</affiliation></front></text></tei>"
        )
        target = jats_with_affs("<aff><label>1</label> Some text</aff>")
        out = run_affiliation(tei_raw, target)
        aff = out.find("affiliation")
        assert aff is not None
        assert texts(out, ".//affiliation/marker") == ["1"]

    # auto_annotate_affiliation_address_test.py:111-158
    def test_all_supported_fields_with_address_grouping(self):
        flat = "1 Dep1 Inst1 City1 12345 State1 Country1"
        tei_raw = (
            "<tei><text><front><affiliation>%s</affiliation></front></text></tei>"
            % flat
        )
        target = jats_with_affs(
            "<aff><label>1</label> "
            '<addr-line><named-content content-type="department">Dep1</named-content></addr-line> '
            "<institution>Inst1</institution> "
            '<addr-line><named-content content-type="city">City1</named-content></addr-line> '
            '<addr-line><named-content content-type="postcode">12345</named-content></addr-line> '
            '<addr-line><named-content content-type="state">State1</named-content></addr-line> '
            "<country>Country1</country></aff>"
        )
        out = run_affiliation(tei_raw, target)
        assert texts(out, ".//affiliation/marker") == ["1"]
        assert texts(out, './/affiliation/orgName[@type="department"]') == ["Dep1"]
        assert texts(out, './/affiliation/orgName[@type="institution"]') == ["Inst1"]
        assert texts(out, ".//affiliation/address/settlement") == ["City1"]
        assert texts(out, ".//affiliation/address/postCode") == ["12345"]
        assert texts(out, ".//affiliation/address/region") == ["State1"]
        assert texts(out, ".//affiliation/address/country") == ["Country1"]
        # the sub-level merge groups the address fields under ONE address
        assert len(out.findall(".//affiliation/address")) == 1

    # auto_annotate_affiliation_address_test.py:160-190 — without
    # segment_affiliations the original TEI affiliation split is preserved
    def test_preserves_original_affiliation_segmentation(self):
        tei_raw = (
            "<tei><text><front>"
            "<affiliation>Some affiliation .</affiliation>"
            "<affiliation>Some affiliation .</affiliation>"
            "</front></text></tei>"
        )
        target = jats_with_affs("<aff>Some affiliation.<break/>Some affiliation.</aff>")
        out = run_affiliation(tei_raw, target)
        assert texts(out, ".//affiliation") == [
            "Some affiliation .",
            "Some affiliation .",
        ]


# ---------------------------------------------------------------------------
# table

# shipped config/xml-mapping.conf:166-172
TABLE_XML_MAPPING = textwrap.dedent(
    """
    [article]
    table = //table-wrap
    table.priority = 1
    table.block = figures
    table.children = ./label | ./caption
    table.children.concat = [[{"xpath": "./label"}, {"value": " "}, {"xpath": "./caption"}]]
    table.sub.table-label = ./label
    table.sub.table-caption = ./caption
    """
)

# auto_annotate_table.py:47-52
TABLE_TEI_MAPPING = {
    "DEFAULT": 'note[@type="other"]',
    "table": 'figure[@type="table"]',
    "table-label": 'figure[@type="table"]/head/label',
    "table-caption": 'figure[@type="table"]/figDesc',
}

TABLE_LOAD_MAPPING = {"table": 'figure[@type="table"]'}


def run_table(tei_raw: str, target_xml: str, **flavor_kwargs) -> ET.Element:
    mapping = parse_xml_mapping_string(TABLE_XML_MAPPING)
    # TABLE_CONTAINER_NODE_PATH = 'text' (auto_annotate_table.py:45)
    doc = load_tei_doc(tei_raw, TABLE_LOAD_MAPPING, container_path="text")
    targets = xml_string_to_target_annotations(target_xml, mapping)
    chain = table_flavor(
        MatcherConfig(
            use_sub_annotations=True,
            extend_to_line_enabled=False,
            tag_config_map=get_tag_config_map(mapping),
        ),
        **flavor_kwargs,
    )
    chain(doc, targets)
    return render(doc, TABLE_TEI_MAPPING)


def jats_with_tables(*tables: str) -> str:
    return "<article><front/><body>%s</body><back/></article>" % "".join(tables)


class TestTableFlavor:
    # auto_annotate_table_test.py:69-101 analogue
    def test_single_table_label_and_caption(self):
        tei_raw = (
            '<tei><text><figure type="table">Table 1 Summary of results</figure>'
            "</text></tei>"
        )
        target = jats_with_tables(
            "<table-wrap><label>Table 1</label>"
            "<caption><p>Summary of results</p></caption></table-wrap>"
        )
        out = run_table(tei_raw, target)
        assert texts(out, './/figure[@type="table"]/head/label') == ["Table 1"]
        assert texts(out, './/figure[@type="table"]/figDesc') == [
            "Summary of results"
        ]

    def test_multiple_tables(self):
        tei_raw = (
            '<tei><text><figure type="table">Table 1 First caption</figure>'
            '<figure type="table">Table 2 Second caption</figure></text></tei>'
        )
        target = jats_with_tables(
            "<table-wrap><label>Table 1</label><caption><p>First caption</p></caption></table-wrap>",
            "<table-wrap><label>Table 2</label><caption><p>Second caption</p></caption></table-wrap>",
        )
        out = run_table(tei_raw, target)
        assert texts(out, './/figure[@type="table"]/head/label') == [
            "Table 1",
            "Table 2",
        ]
        assert texts(out, './/figure[@type="table"]/figDesc') == [
            "First caption",
            "Second caption",
        ]


# ---------------------------------------------------------------------------
# figure (via the first-class flavor; detailed goldens in test_e2e_figure_golden)

FIGURE_XML_MAPPING = textwrap.dedent(
    """
    [article]
    figure = //fig
    figure.priority = 1
    figure.block = figures
    figure.children = ./label | ./caption
    figure.children.concat = [[{"xpath": "./label"}, {"value": " "}, {"xpath": "./caption"}]]
    figure.sub.figure-label = ./label
    figure.sub.figure-caption = ./caption
    """
)

FIGURE_TEI_MAPPING = {
    "DEFAULT": 'note[@type="other"]',
    "figure": "figure",
    "figure-label": "figure/head/label",
    "figure-caption": "figure/figDesc",
}


class TestFigureFlavor:
    def test_figure_flavor_sub_annotates_within_preserved_figure(self):
        mapping = parse_xml_mapping_string(FIGURE_XML_MAPPING)
        doc = load_tei_doc(
            "<tei><text><figure>Figure 1 A scatter plot</figure></text></tei>",
            {"figure": "figure"},
            container_path="text",  # FIGURE_CONTAINER_NODE_PATH = 'text'
        )
        targets = xml_string_to_target_annotations(
            "<article><front/><body><fig><label>Figure 1</label>"
            "<caption><p>A scatter plot</p></caption></fig></body><back/></article>",
            mapping,
        )
        chain = figure_flavor(
            MatcherConfig(
                use_sub_annotations=True,
                extend_to_line_enabled=False,
                tag_config_map=get_tag_config_map(mapping),
            )
        )
        chain(doc, targets)
        out = render(doc, FIGURE_TEI_MAPPING)
        assert texts(out, ".//figure/head/label") == ["Figure 1"]
        assert texts(out, ".//figure/figDesc") == ["A scatter plot"]
