"""File-level end-to-end cases for the auto-annotate driver, ported from
the reference's tests/auto_annotate_header_test.py e2e matrix (TestMain /
TestEndToEnd): raw training-TEI files + target-XML files on disk -> one
Spark job -> annotated TEI output files, matched by the sed-style filename
substitution (J1 regex rename, utils/regex.py:17-37)."""

import xml.etree.ElementTree as ET

import pytest

from sciencebeam_trainer_grobid_tools_spark.operators.annotate import MatcherConfig
from sciencebeam_trainer_grobid_tools_spark.operators.targets import (
    get_tag_config_map,
    parse_xml_mapping_string,
)
from sciencebeam_trainer_grobid_tools_spark.operators.tei_render import (
    HEADER_TAG_TO_TEI_PATH_MAPPING,
)
from sciencebeam_trainer_grobid_tools_spark.plans.auto_annotate import (
    parse_substitution_pattern,
    regex_change_name,
    run_auto_annotate,
)
from sciencebeam_trainer_grobid_tools_spark.plans.flavors import default_flavor
from sciencebeam_trainer_grobid_tools_spark.sources.corpus import DEFAULT_XML_MAPPING

TEI_FILENAME_1 = "document1.header.tei.xml"
TEI_FILENAME_REGEX = r"/(.*).header.tei.xml/\1.xml/"
TITLE_1 = "Chocolate bars for mice"
ABSTRACT_1 = "This study explores the nutritious value of chocolate bars for mice."


class TestRegexChangeName:
    def test_should_derive_xml_filename(self):
        assert (
            regex_change_name(TEI_FILENAME_1, TEI_FILENAME_REGEX) == "document1.xml"
        )

    def test_should_keep_name_without_match(self):
        assert regex_change_name("other.txt", TEI_FILENAME_REGEX) == "other.txt"

    def test_should_reject_invalid_pattern(self):
        with pytest.raises(ValueError):
            parse_substitution_pattern("/only-two-parts/")


@pytest.fixture(scope="module")
def spark():
    from sciencebeam_trainer_grobid_tools_spark.plans.session import build_session

    session = build_session("auto-annotate-tests", cpus=4, shuffle_partitions=8)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


def header_tei(front_inner: str) -> str:
    return "<tei><text><front>%s</front></text></tei>" % front_inner


def target_xml(title: str = "", extra: str = "") -> str:
    return (
        "<article><front><article-meta>"
        "<title-group><article-title>%s</article-title></title-group>%s"
        "</article-meta></front></article>" % (title, extra)
    )


def xpath_text(xml_str: str, path: str) -> str:
    root = ET.fromstring(xml_str)
    return " ".join("".join(node.itertext()) for node in root.findall(path))


def run_header_job(spark, tmp_path, **kwargs):
    mapping_text = kwargs.pop("xml_mapping_text", DEFAULT_XML_MAPPING)
    mapping = parse_xml_mapping_string(mapping_text)
    config = MatcherConfig(
        use_sub_annotations=False, tag_config_map=get_tag_config_map(mapping)
    )
    defaults = dict(
        source_base_path=str(tmp_path / "tei-raw"),
        output_path=str(tmp_path / "tei-auto"),
        xml_path=str(tmp_path / "xml"),
        xml_filename_regex=TEI_FILENAME_REGEX,
        flavor_chain=default_flavor(config),
        xml_mapping=mapping,
        tag_to_tei_path_mapping=HEADER_TAG_TO_TEI_PATH_MAPPING,
        source_pattern="*.header.tei.xml",
    )
    defaults.update(kwargs)
    return run_auto_annotate(spark, **defaults)


def write_pair(tmp_path, tei: str, xml: str, stem: str = "document1"):
    (tmp_path / "tei-raw").mkdir(exist_ok=True)
    (tmp_path / "xml").mkdir(exist_ok=True)
    (tmp_path / "tei-raw" / ("%s.header.tei.xml" % stem)).write_text(tei)
    (tmp_path / "xml" / ("%s.xml" % stem)).write_text(xml)


class TestRunAutoAnnotateHeader:
    def test_should_auto_annotate_title(self, spark, tmp_path):
        # reference auto_annotate_header_test.py:63-76
        write_pair(tmp_path, header_tei("<note>%s</note>" % TITLE_1), target_xml(TITLE_1))
        counters = run_header_job(spark, tmp_path)
        assert counters == {"passed": 1, "failed": 0}
        out = (tmp_path / "tei-auto" / TEI_FILENAME_1).read_text()
        assert xpath_text(out, ".//docTitle/titlePart") == TITLE_1

    def test_should_extend_title_annotation_to_whole_line(self, spark, tmp_path):
        # reference auto_annotate_header_test.py:94-109 (extend-to-line)
        write_pair(
            tmp_path, header_tei("<note>Title: %s</note>" % TITLE_1), target_xml(TITLE_1)
        )
        mapping_with_extend = DEFAULT_XML_MAPPING.replace(
            "title.extend-to-line = false", "title.extend-to-line = true"
        )
        run_header_job(spark, tmp_path, xml_mapping_text=mapping_with_extend)
        out = (tmp_path / "tei-auto" / TEI_FILENAME_1).read_text()
        assert xpath_text(out, ".//docTitle/titlePart") == "Title: " + TITLE_1

    def test_should_auto_annotate_multiple_fields(self, spark, tmp_path):
        # reference auto_annotate_header_test.py:111-166 (restricted fields)
        tei = header_tei(
            "<note>%s</note><lb/><note>%s</note>" % (TITLE_1, ABSTRACT_1)
        )
        xml = target_xml(TITLE_1, extra="<abstract><p>%s</p></abstract>" % ABSTRACT_1)
        write_pair(tmp_path, tei, xml)
        counters = run_header_job(spark, tmp_path, fields={"title", "abstract"})
        assert counters == {"passed": 1, "failed": 0}
        out = (tmp_path / "tei-auto" / TEI_FILENAME_1).read_text()
        assert xpath_text(out, ".//docTitle/titlePart") == TITLE_1
        assert xpath_text(out, './/div[@type="abstract"]') == ABSTRACT_1

    def test_should_restrict_to_requested_fields(self, spark, tmp_path):
        tei = header_tei(
            "<note>%s</note><lb/><note>%s</note>" % (TITLE_1, ABSTRACT_1)
        )
        xml = target_xml(TITLE_1, extra="<abstract><p>%s</p></abstract>" % ABSTRACT_1)
        write_pair(tmp_path, tei, xml)
        run_header_job(spark, tmp_path, fields={"title"})
        out = (tmp_path / "tei-auto" / TEI_FILENAME_1).read_text()
        assert xpath_text(out, ".//docTitle/titlePart") == TITLE_1
        assert xpath_text(out, './/div[@type="abstract"]') == ""

    def test_should_annotate_multiple_file_pairs(self, spark, tmp_path):
        for stem, title in [("document1", TITLE_1), ("document2", "Another title")]:
            write_pair(
                tmp_path, header_tei("<note>%s</note>" % title), target_xml(title), stem
            )
        counters = run_header_job(spark, tmp_path)
        assert counters == {"passed": 2, "failed": 0}
        out2 = (tmp_path / "tei-auto" / "document2.header.tei.xml").read_text()
        assert xpath_text(out2, ".//docTitle/titlePart") == "Another title"

    def test_should_skip_tei_file_without_matching_xml(self, spark, tmp_path):
        write_pair(tmp_path, header_tei("<note>%s</note>" % TITLE_1), target_xml(TITLE_1))
        (tmp_path / "tei-raw" / "orphan.header.tei.xml").write_text(
            header_tei("<note>x</note>")
        )
        counters = run_header_job(spark, tmp_path)
        assert counters == {"passed": 1, "failed": 0}
        assert not (tmp_path / "tei-auto" / "orphan.header.tei.xml").exists()

    def test_should_route_failing_checks_to_failed_output(self, spark, tmp_path):
        # reference S7 failed-output sink via require-matching checks
        write_pair(
            tmp_path,
            header_tei("<note>Entirely unrelated text</note>"),
            target_xml(TITLE_1),
        )
        counters = run_header_job(
            spark,
            tmp_path,
            failed_output_path=str(tmp_path / "tei-auto-failed"),
            require_matching_fields={"title"},
        )
        assert counters == {"passed": 0, "failed": 1}
        assert not (tmp_path / "tei-auto" / TEI_FILENAME_1).exists()
        failed = (tmp_path / "tei-auto-failed" / TEI_FILENAME_1).read_text()
        assert xpath_text(failed, ".//docTitle/titlePart") == ""

    def test_should_isolate_broken_tei_file(self, spark, tmp_path):
        write_pair(tmp_path, "<tei><unclosed>", target_xml(TITLE_1))
        counters = run_header_job(spark, tmp_path)
        assert counters == {"passed": 0, "failed": 1}


class TestFieldSelectionSyntax:
    """Ported reference utils/string_test.py (the --fields syntax)."""

    def test_comma_separated(self):
        from sciencebeam_trainer_grobid_tools_spark.plans.auto_annotate import (
            comma_separated_str_to_list as parse,
        )

        assert parse("") == []
        assert parse("abc") == ["abc"]
        assert parse("abc,xyz,123") == ["abc", "xyz", "123"]
        assert parse(" abc , xyz , 123 ") == ["abc", "xyz", "123"]

    def test_plus_minus(self):
        from sciencebeam_trainer_grobid_tools_spark.plans.auto_annotate import (
            plus_minus_comma_separated_str_to_list as parse,
        )

        defaults = ["def1", "def2"]
        assert parse("", defaults) == []
        assert parse("abc", defaults) == ["abc"]
        assert parse("abc,xyz,123", defaults) == ["abc", "xyz", "123"]
        assert parse(" abc , xyz , 123 ", defaults) == ["abc", "xyz", "123"]
        assert parse("+abc,xyz", defaults) == ["def1", "def2", "abc", "xyz"]
        assert parse("-def2", defaults) == ["def1"]
        assert parse("+abc,xyz,-def2", defaults) == ["def1", "abc", "xyz"]

    def test_regex_change_name_gz(self):
        # reference utils/regex_test.py
        from sciencebeam_trainer_grobid_tools_spark.plans.auto_annotate import (
            regex_change_name,
        )

        assert (
            regex_change_name("file1-suffix.tei.xml", r"/(.*)-suffix.*/\1.xml.gz/")
            == "file1.xml.gz"
        )


SEGMENTATION_TAG_TO_TEI_PATH_MAPPING = {
    # reference auto_annotate_segmentation.py:48-57
    "DEFAULT": "body",
    "front": "front",
    "body": "body",
    "headnote": 'note[@place="headnote"]',
    "acknowledgment": 'div[@type="acknowledgment"]',
    "annex": 'div[@type="annex"]',
    "page": "page",
    "reference": "listBibl",
}


class TestRunAutoAnnotateSegmentation:
    """Segmentation flavor through the file driver (reference
    auto_annotate_segmentation_test.py e2e: title -> //text/front)."""

    def test_should_auto_annotate_title_as_front(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.plans.flavors import (
            segmentation_flavor,
        )

        (tmp_path / "tei-raw").mkdir()
        (tmp_path / "xml").mkdir()
        (tmp_path / "tei-raw" / "document1.segmentation.tei.xml").write_text(
            "<tei><text><note>%s</note></text></tei>" % TITLE_1
        )
        (tmp_path / "xml" / "document1.xml").write_text(target_xml(TITLE_1))
        mapping = parse_xml_mapping_string(DEFAULT_XML_MAPPING)
        config = MatcherConfig(
            use_sub_annotations=False, tag_config_map=get_tag_config_map(mapping)
        )
        counters = run_auto_annotate(
            spark,
            source_base_path=str(tmp_path / "tei-raw"),
            output_path=str(tmp_path / "tei-auto"),
            xml_path=str(tmp_path / "xml"),
            xml_filename_regex=r"/(.*).segmentation.tei.xml/\1.xml/",
            flavor_chain=segmentation_flavor(config),
            xml_mapping=parse_xml_mapping_string(DEFAULT_XML_MAPPING),
            tag_to_tei_path_mapping=SEGMENTATION_TAG_TO_TEI_PATH_MAPPING,
            container_path="text",
            source_pattern="*.segmentation.tei.xml",
        )
        assert counters == {"passed": 1, "failed": 0}
        out = (tmp_path / "tei-auto" / "document1.segmentation.tei.xml").read_text()
        assert xpath_text(out, ".//text/front") == TITLE_1

    def test_should_default_unmatched_to_body(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.plans.flavors import (
            segmentation_flavor,
        )

        (tmp_path / "tei-raw").mkdir()
        (tmp_path / "xml").mkdir()
        (tmp_path / "tei-raw" / "document1.segmentation.tei.xml").write_text(
            "<tei><text><note>%s</note><lb/><note>Plain body text here</note></text></tei>"
            % TITLE_1
        )
        (tmp_path / "xml" / "document1.xml").write_text(target_xml(TITLE_1))
        mapping = parse_xml_mapping_string(DEFAULT_XML_MAPPING)
        config = MatcherConfig(
            use_sub_annotations=False, tag_config_map=get_tag_config_map(mapping)
        )
        run_auto_annotate(
            spark,
            source_base_path=str(tmp_path / "tei-raw"),
            output_path=str(tmp_path / "tei-auto"),
            xml_path=str(tmp_path / "xml"),
            xml_filename_regex=r"/(.*).segmentation.tei.xml/\1.xml/",
            flavor_chain=segmentation_flavor(config),
            xml_mapping=parse_xml_mapping_string(DEFAULT_XML_MAPPING),
            tag_to_tei_path_mapping=SEGMENTATION_TAG_TO_TEI_PATH_MAPPING,
            container_path="text",
            source_pattern="*.segmentation.tei.xml",
        )
        out = (tmp_path / "tei-auto" / "document1.segmentation.tei.xml").read_text()
        assert xpath_text(out, ".//text/front") == TITLE_1
        assert "Plain body text here" in xpath_text(out, ".//text/body")


class TestMappingFilterAndOverrides:
    """Ported reference auto_annotate_utils_test.py: mapping restriction to
    selected fields (related dotted props follow) and tag.prop overrides."""

    def test_should_filter_props(self):
        from sciencebeam_trainer_grobid_tools_spark.plans.auto_annotate import (
            get_filtered_xml_mapping_and_fields,
        )

        xml_mapping = {"any": {"tag1": "xpath1", "tag2": "xpath2"}}
        assert get_filtered_xml_mapping_and_fields(xml_mapping, {"tag1"}) == (
            {"any": {"tag1": "xpath1"}},
            {"tag1"},
        )

    def test_should_include_related_props(self):
        from sciencebeam_trainer_grobid_tools_spark.plans.auto_annotate import (
            get_filtered_xml_mapping_and_fields,
        )

        xml_mapping = {"any": {"tag1": "xpath1", "tag1.related": "related1"}}
        assert get_filtered_xml_mapping_and_fields(xml_mapping, {"tag1"}) == (
            xml_mapping,
            {"tag1"},
        )

    def test_should_include_keys_with_dot_as_fields(self):
        from sciencebeam_trainer_grobid_tools_spark.plans.auto_annotate import (
            get_filtered_xml_mapping_and_fields,
        )

        xml_mapping = {"any": {"tag1": "xpath1", "tag1.related": "related1"}}
        assert get_filtered_xml_mapping_and_fields(xml_mapping, None) == (
            xml_mapping,
            {"tag1"},
        )

    def test_should_filter_sub_fields(self):
        from sciencebeam_trainer_grobid_tools_spark.plans.auto_annotate import (
            get_filtered_xml_mapping_and_fields,
        )

        xml_mapping = {
            "any": {
                "tag1": "xpath1",
                "tag1.sub.keep": "k",
                "tag1.sub.drop": "d",
            }
        }
        filtered, _ = get_filtered_xml_mapping_and_fields(
            xml_mapping, {"tag1"}, sub_fields={"keep"}
        )
        assert filtered == {"any": {"tag1": "xpath1", "tag1.sub.keep": "k"}}

    def test_should_return_same_mapping_if_no_overrides_specified(self):
        from sciencebeam_trainer_grobid_tools_spark.plans.auto_annotate import (
            get_xml_mapping_with_overrides,
        )

        xml_mapping = {"any": {"tag1": "xpath1"}}
        assert get_xml_mapping_with_overrides(xml_mapping, None) == xml_mapping

    def test_should_add_or_replace_property_in_multiple_top_level_keys(self):
        from sciencebeam_trainer_grobid_tools_spark.plans.auto_annotate import (
            get_xml_mapping_with_overrides,
        )

        xml_mapping = {
            "top1": {"tag1": "xpath1", "tag1.value": "old"},
            "top2": {"tag1": "xpath1", "tag1.value": "old"},
        }
        overrides = {"tag1.value": "new", "tag1.extra": "extra1"}
        assert get_xml_mapping_with_overrides(xml_mapping, overrides) == {
            "top1": {"tag1": "xpath1", "tag1.value": "new", "tag1.extra": "extra1"},
            "top2": {"tag1": "xpath1", "tag1.value": "new", "tag1.extra": "extra1"},
        }


class TestDriverEdgeCases:
    def test_empty_source_directory_yields_zero_counters(self, spark, tmp_path):
        (tmp_path / "tei-raw").mkdir()
        (tmp_path / "xml").mkdir()
        (tmp_path / "xml" / "unmatched.xml").write_text("<article/>")
        counters = run_header_job(spark, tmp_path)
        assert counters == {"passed": 0, "failed": 0}


REFERENCE_XML_MAPPING = """
[article]
reference = back/ref-list/ref
reference.children = .//*
reference.sub.reference-label = ./label
reference.sub.reference-article-title = .//article-title
reference.sub.reference-year = .//year
"""

REFERENCE_TEI_MAPPING = {
    "DEFAULT": 'note[@type="other"]',
    "reference": "bibl",
    "reference-label": "bibl/label",
    "reference-article-title": 'bibl/title[@level="a"]',
    "reference-year": "bibl/date",
}


class TestRunAutoAnnotateReference:
    """Reference flavor through the file driver (auto_annotate_reference.py
    main parity): references.tei.xml + target JATS -> bibl sub-structure."""

    def test_should_annotate_reference_sub_fields(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.plans.flavors import (
            reference_flavor,
        )

        (tmp_path / "tei-raw").mkdir()
        (tmp_path / "xml").mkdir()
        # label is 2 chars: single-char needles fall below min_token_length
        # (the reference skips them too)
        ref1 = "12. Maison M. Chocolate bars for mice. Mouse Journal. 2021."
        (tmp_path / "tei-raw" / "document1.references.tei.xml").write_text(
            "<tei><text><back><listBibl>%s<lb/></listBibl></back></text></tei>" % ref1
        )
        (tmp_path / "xml" / "document1.xml").write_text(
            "<article><front/><body/><back><ref-list>"
            "<ref><label>12</label><element-citation>"
            "<article-title>Chocolate bars for mice</article-title>"
            "<year>2021</year></element-citation></ref>"
            "</ref-list></back></article>"
        )
        mapping = parse_xml_mapping_string(REFERENCE_XML_MAPPING)
        config = MatcherConfig(
            use_sub_annotations=True,
            extend_to_line_enabled=False,
            tag_config_map=get_tag_config_map(mapping),
        )
        counters = run_auto_annotate(
            spark,
            source_base_path=str(tmp_path / "tei-raw"),
            output_path=str(tmp_path / "tei-auto"),
            xml_path=str(tmp_path / "xml"),
            xml_filename_regex=r"/(.*).references.tei.xml/\1.xml/",
            flavor_chain=reference_flavor(config, segment_references=True),
            xml_mapping=parse_xml_mapping_string(REFERENCE_XML_MAPPING),
            tag_to_tei_path_mapping=REFERENCE_TEI_MAPPING,
            container_path="text/back/listBibl",
            source_pattern="*.references.tei.xml",
        )
        assert counters == {"passed": 1, "failed": 0}
        out = (tmp_path / "tei-auto" / "document1.references.tei.xml").read_text()
        assert (
            xpath_text(out, './/bibl/title[@level="a"]') == "Chocolate bars for mice"
        )
        assert xpath_text(out, ".//bibl/date") == "2021"
        assert xpath_text(out, ".//bibl/label") == "12"


FULLTEXT_XML_MAPPING = """
[article]
section_title = ./body//sec
section_title.children = ./title
section_paragraph = (//sec | //ack)/p
"""

FULLTEXT_TEI_MAPPING = {
    "DEFAULT": "other",
    "section_title": "head",
    "section_paragraph": "p",
}


class TestRunAutoAnnotateFulltext:
    """Fulltext flavor through the file driver (auto_annotate_fulltext.py
    main parity): body text -> head/p structure."""

    def test_should_annotate_section_title_and_paragraph(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.plans.flavors import (
            fulltext_flavor,
        )

        (tmp_path / "tei-raw").mkdir()
        (tmp_path / "xml").mkdir()
        (tmp_path / "tei-raw" / "document1.fulltext.tei.xml").write_text(
            "<tei><text><body>Methods<lb/>We fed the mice chocolate daily."
            "<lb/></body></text></tei>"
        )
        (tmp_path / "xml" / "document1.xml").write_text(
            "<article><front/><body><sec><title>Methods</title>"
            "<p>We fed the mice chocolate daily.</p></sec></body><back/></article>"
        )
        mapping = parse_xml_mapping_string(FULLTEXT_XML_MAPPING)
        config = MatcherConfig(tag_config_map=get_tag_config_map(mapping))
        counters = run_auto_annotate(
            spark,
            source_base_path=str(tmp_path / "tei-raw"),
            output_path=str(tmp_path / "tei-auto"),
            xml_path=str(tmp_path / "xml"),
            xml_filename_regex=r"/(.*).fulltext.tei.xml/\1.xml/",
            flavor_chain=fulltext_flavor(config),
            xml_mapping=parse_xml_mapping_string(FULLTEXT_XML_MAPPING),
            tag_to_tei_path_mapping=FULLTEXT_TEI_MAPPING,
            container_path="text/body",
            source_pattern="*.fulltext.tei.xml",
        )
        assert counters == {"passed": 1, "failed": 0}
        out = (tmp_path / "tei-auto" / "document1.fulltext.tei.xml").read_text()
        assert xpath_text(out, ".//head") == "Methods"
        assert xpath_text(out, ".//p") == "We fed the mice chocolate daily."


class TestRunAutoAnnotateAffiliationAndTable:
    """Affiliation (sub-field + address group merge) and table (label/caption
    subs) flavors through the file driver, mirroring the oracle flavor gates."""

    AFF_MAPPING = """
[article]
author_aff = front/article-meta/contrib-group/aff
author_aff.children = .//*
author_aff.unmatched-parent-text = true
author_aff.sub.author_aff-label = ./label
author_aff.sub.author_aff-institution = ./institution
author_aff.sub.author_aff-address-city = ./addr-line/named-content[@content-type="city"]
author_aff.match-prefix-regex = ({author_aff-label})\\s*[\\.-]*\\s*$
"""

    AFF_TEI_MAPPING = {
        "DEFAULT": 'note[@type="other"]',
        "author_aff": "affiliation",
        "author_aff-label": "affiliation/marker",
        "author_aff-institution": 'affiliation/orgName[@type="institution"]',
        "author_aff-address": "affiliation/address",
        "author_aff-address-city": "affiliation/address/settlement",
    }

    def test_affiliation_sub_fields_via_file_driver(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.plans.flavors import (
            affiliation_flavor,
        )

        (tmp_path / "tei-raw").mkdir()
        (tmp_path / "xml").mkdir()
        (tmp_path / "tei-raw" / "document1.affiliation.tei.xml").write_text(
            "<tei><text><front><affiliation>12 Science Institute, Springfield"
            "</affiliation></front></text></tei>"
        )
        (tmp_path / "xml" / "document1.xml").write_text(
            "<article><front><article-meta><contrib-group>"
            "<aff><label>12</label> <institution>Science Institute</institution>, "
            '<addr-line><named-content content-type="city">Springfield'
            "</named-content></addr-line></aff>"
            "</contrib-group></article-meta></front><body/><back/></article>"
        )
        mapping = parse_xml_mapping_string(self.AFF_MAPPING)
        config = MatcherConfig(
            use_sub_annotations=True,
            extend_to_line_enabled=False,
            tag_config_map=get_tag_config_map(mapping),
        )
        counters = run_auto_annotate(
            spark,
            source_base_path=str(tmp_path / "tei-raw"),
            output_path=str(tmp_path / "tei-auto"),
            xml_path=str(tmp_path / "xml"),
            xml_filename_regex=r"/(.*).affiliation.tei.xml/\1.xml/",
            flavor_chain=affiliation_flavor(config),
            xml_mapping=parse_xml_mapping_string(self.AFF_MAPPING),
            tag_to_tei_path_mapping=self.AFF_TEI_MAPPING,
            container_path="text/front",
            source_pattern="*.affiliation.tei.xml",
            preserve_tags=True,
            # the reference's always_preserve_fields for this flavor: the
            # preserved affiliation region survives, subs are re-annotated
            preserve_fields={"author_aff"},
        )
        assert counters == {"passed": 1, "failed": 0}
        out = (tmp_path / "tei-auto" / "document1.affiliation.tei.xml").read_text()
        assert xpath_text(out, ".//affiliation/marker") == "12"
        assert (
            xpath_text(out, './/affiliation/orgName[@type="institution"]')
            == "Science Institute"
        )
        assert xpath_text(out, ".//affiliation/address/settlement") == "Springfield"

    TABLE_MAPPING = """
[article]
table = //table-wrap
table.children = ./label | ./caption
table.sub.table-label = ./label
table.sub.table-caption = ./caption
"""

    TABLE_TEI_MAPPING = {
        "DEFAULT": 'note[@type="other"]',
        "table": 'figure[@type="table"]',
        "table-label": 'figure[@type="table"]/head/label',
        "table-caption": 'figure[@type="table"]/figDesc',
    }

    def test_table_sub_fields_via_file_driver(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.plans.flavors import table_flavor

        (tmp_path / "tei-raw").mkdir()
        (tmp_path / "xml").mkdir()
        (tmp_path / "tei-raw" / "document1.table.tei.xml").write_text(
            '<tei><text><figure type="table">Table 3 Mouse weights by diet'
            "</figure></text></tei>"
        )
        (tmp_path / "xml" / "document1.xml").write_text(
            "<article><front/><body><table-wrap><label>Table 3</label>"
            "<caption><p>Mouse weights by diet</p></caption></table-wrap>"
            "</body><back/></article>"
        )
        mapping = parse_xml_mapping_string(self.TABLE_MAPPING)
        config = MatcherConfig(
            use_sub_annotations=True,
            extend_to_line_enabled=False,
            tag_config_map=get_tag_config_map(mapping),
        )
        counters = run_auto_annotate(
            spark,
            source_base_path=str(tmp_path / "tei-raw"),
            output_path=str(tmp_path / "tei-auto"),
            xml_path=str(tmp_path / "xml"),
            xml_filename_regex=r"/(.*).table.tei.xml/\1.xml/",
            flavor_chain=table_flavor(config),
            xml_mapping=parse_xml_mapping_string(self.TABLE_MAPPING),
            tag_to_tei_path_mapping=self.TABLE_TEI_MAPPING,
            container_path="text",
            source_pattern="*.table.tei.xml",
            preserve_tags=True,
            preserve_fields={"table"},  # reference auto_annotate_table.py:101
        )
        assert counters == {"passed": 1, "failed": 0}
        out = (tmp_path / "tei-auto" / "document1.table.tei.xml").read_text()
        assert xpath_text(out, './/figure[@type="table"]/head/label') == "Table 3"
        assert (
            xpath_text(out, './/figure[@type="table"]/figDesc')
            == "Mouse weights by diet"
        )


class TestRunAutoAnnotateFigure:
    FIGURE_MAPPING = """
[article]
figure = //fig
figure.children = ./label | ./caption
figure.sub.figure-label = ./label
figure.sub.figure-caption = ./caption
"""

    FIGURE_TEI_MAPPING = {
        "DEFAULT": 'note[@type="other"]',
        "figure": "figure",
        "figure-label": "figure/head/label",
        "figure-caption": "figure/figDesc",
    }

    def test_figure_sub_fields_via_file_driver(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.plans.flavors import figure_flavor

        (tmp_path / "tei-raw").mkdir()
        (tmp_path / "xml").mkdir()
        (tmp_path / "tei-raw" / "document1.figure.tei.xml").write_text(
            "<tei><text><figure>Figure 2 Weight curves over time</figure>"
            "</text></tei>"
        )
        (tmp_path / "xml" / "document1.xml").write_text(
            "<article><front/><body><fig><label>Figure 2</label>"
            "<caption><p>Weight curves over time</p></caption></fig>"
            "</body><back/></article>"
        )
        mapping = parse_xml_mapping_string(self.FIGURE_MAPPING)
        config = MatcherConfig(
            use_sub_annotations=True,
            extend_to_line_enabled=False,
            tag_config_map=get_tag_config_map(mapping),
        )
        counters = run_auto_annotate(
            spark,
            source_base_path=str(tmp_path / "tei-raw"),
            output_path=str(tmp_path / "tei-auto"),
            xml_path=str(tmp_path / "xml"),
            xml_filename_regex=r"/(.*).figure.tei.xml/\1.xml/",
            flavor_chain=figure_flavor(config),
            xml_mapping=parse_xml_mapping_string(self.FIGURE_MAPPING),
            tag_to_tei_path_mapping=self.FIGURE_TEI_MAPPING,
            container_path="text",
            source_pattern="*.figure.tei.xml",
            preserve_tags=True,
            preserve_fields={"figure"},
        )
        assert counters == {"passed": 1, "failed": 0}
        out = (tmp_path / "tei-auto" / "document1.figure.tei.xml").read_text()
        assert xpath_text(out, ".//figure/head/label") == "Figure 2"
        assert xpath_text(out, ".//figure/figDesc") == "Weight curves over time"
