"""Ported reference cases for the JATS repair pipeline.

Sources: tests/fix_jats_xml_test.py (reference; 776 LoC) — the find-* value
finders, the full TestFixReference matrix, the entity-fix file case, and the
driver (main) cases re-expressed against the Spark file pipeline.
"""
import xml.etree.ElementTree as ET

import pytest

from sciencebeam_trainer_grobid_tools_spark.operators.jats_fix import (
    XLINK_HREF,
    JatsXpaths,
    LDQUO,
    LSQUO,
    RDQUO,
    RSQUO,
    find_doi_start_end,
    find_doi_url_prefix_valid_start_end,
    find_pii_valid_start_end,
    find_pmcid_start_end,
    find_article_title_start_end,
    get_jats_ext_link_element,
    get_jats_pub_id_element,
    get_jats_doi_element,
    get_jats_pii_element,
    get_jats_pmid_element,
    get_jats_pmcid_element,
    fix_reference as _fix_reference,
    fix_jats_xml_string,
    text_content,
)


def clone_node(node: ET.Element) -> ET.Element:
    return ET.fromstring(ET.tostring(node, encoding="unicode"))


ARTICLE_TITLE_1 = "This is the article title"
INVALID_PII_1 = "12/34/4567"
PII_1 = "S0123-1234(11)01234-5"
DOI_1 = "10.12345/abc/1"
DOI_2 = "10.12345/abc/2"
PMID_1 = "12345"
PMCID_1 = "PMC1234567"
WOS_1 = "000123456789001"

HTTPS_DOI_URL_PREFIX = "https://doi.org/"
HTTP_DOI_URL_PREFIX = "http://doi.org/"
HTTPS_SPACED_DOI_URL_PREFIX = "https : // doi . org / "


def E(tag, *children, **attrib):
    """lxml.builder.E equivalent over stdlib ElementTree."""
    node = ET.Element(tag, {k.replace("_", "-"): v for k, v in attrib.items()})
    last = None
    for child in children:
        if isinstance(child, str):
            if last is None:
                node.text = (node.text or "") + child
            else:
                last.tail = (last.tail or "") + child
        else:
            node.append(child)
            last = child
    return node


def get_jats_mixed_ref(*args) -> ET.Element:
    return E("ref", E("mixed-citation", *args))


def get_jats(references) -> ET.Element:
    return E("article", E("back", E("ref-list", *references)))


def texts(nodes):
    return "|".join(text_content(node) for node in nodes)


def fix_reference(ref: ET.Element) -> ET.Element:
    original_text = text_content(ref)
    fixed = _fix_reference(ref)
    # the reference's own per-test invariant (fix_jats_xml_test.py:78-84):
    # repairs move annotation boundaries, never change the text content
    assert text_content(fixed) == original_text
    return fixed


class TestFindDoiValidStartEnd:
    @pytest.mark.parametrize(
        "doi", [DOI_1, "10.1234.1/test", "10.1234.1.2.3/test", DOI_1 + "[test]"]
    )
    def test_should_find_doi_variants(self, doi):
        text = "before:  %s" % doi
        start, end = find_doi_start_end(text)
        assert text[start:end] == doi

    def test_should_ignore_square_brackets_around_doi(self):
        text = "before:  [%s]" % DOI_1
        start, end = find_doi_start_end(text)
        assert text[start:end] == DOI_1

    def test_should_ignore_doi_square_brackets_label(self):
        text = "before:  %s [doi]" % DOI_1
        start, end = find_doi_start_end(text)
        assert text[start:end] == DOI_1

    def test_should_ignore_trailing_dot(self):
        text = "before:  %s." % DOI_1
        start, end = find_doi_start_end(text)
        assert text[start:end] == DOI_1

    def test_should_stop_at_newline_in_multiline_citation(self):
        # fix_jats_xml.py:321 uses text[start:end] from the regex match, so
        # the DOI never swallows citation text after a line break
        text = "before: 10.1234/abc.def\nmore citation text follows"
        start, end = find_doi_start_end(text)
        assert text[start:end] == "10.1234/abc.def"


class TestFindDoiUrlPrefixValidStartEnd:
    @pytest.mark.parametrize(
        "prefix", ["https://doi.org/", "http://doi.org/", "https://dx.doi.org/"]
    )
    def test_should_find_doi_prefix(self, prefix):
        text = "other:  %s" % prefix
        start, end = find_doi_url_prefix_valid_start_end(text)
        assert text[start:end] == prefix


class TestFindPiiValidStartEnd:
    def test_should_accept_valid_pii(self):
        assert find_pii_valid_start_end(PII_1) is not None

    def test_should_not_accept_invalid_pii(self):
        assert find_pii_valid_start_end(INVALID_PII_1) is None

    def test_should_accept_valid_pii_with_capital_x_with_punct(self):
        assert find_pii_valid_start_end("S0123-123X(11)01234-X") is not None

    def test_should_accept_valid_pii_with_capital_x_without_punct(self):
        assert find_pii_valid_start_end("S0123123X1101234X") is not None


class TestFindPmcidValidStartEnd:
    @pytest.mark.parametrize("text", [PMCID_1, "PMC12345", "Pmc1234567"])
    def test_should_accept_pmcid(self, text):
        start, end = find_pmcid_start_end(text)
        assert text[start:end] == text


class TestFindArticleTitleStartEnd:
    def test_should_not_change_valid_title_with_semicolon(self):
        text = "%s; indeed" % ARTICLE_TITLE_1
        start, end = find_article_title_start_end(text)
        assert text[start:end] == text

    def test_should_strip_of_semicolon_pmcid(self):
        text = "%s; %s" % (ARTICLE_TITLE_1, PMCID_1)
        start, end = find_article_title_start_end(text)
        assert text[start:end] == ARTICLE_TITLE_1

    @pytest.mark.parametrize(
        "left,right",
        [
            ('"', '"'),
            (LSQUO, RSQUO),
            (LDQUO, RDQUO),
        ],
    )
    def test_should_strip_surrounding_quotes(self, left, right):
        text = "%s%s%s" % (left, ARTICLE_TITLE_1, right)
        start, end = find_article_title_start_end(text)
        assert text[start:end] == ARTICLE_TITLE_1


class TestFixReference:
    def test_should_not_change_valid_doi(self):
        ref = get_jats_mixed_ref("doi: ", get_jats_doi_element(DOI_1))
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.DOI)) == DOI_1

    def test_should_remove_doi_pub_id_element_if_not_containing_valid_doi(self):
        ref = get_jats_mixed_ref("doi: ", get_jats_doi_element("not a doi"))
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.DOI)) == ""

    def test_should_convert_doi_with_inside_url_prefix_to_ext_link(self):
        ref = get_jats_mixed_ref(
            "some text", get_jats_doi_element(HTTPS_DOI_URL_PREFIX + DOI_1), "tail text"
        )
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.EXT_LINK)) == HTTPS_DOI_URL_PREFIX + DOI_1

    def test_should_convert_doi_with_outside_url_prefix_to_ext_link(self):
        ref = get_jats_mixed_ref(
            "some text " + HTTPS_DOI_URL_PREFIX, get_jats_doi_element(DOI_1), "tail text"
        )
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.EXT_LINK)) == HTTPS_DOI_URL_PREFIX + DOI_1

    def test_should_convert_doi_with_outside_spaced_url_prefix_to_ext_link(self):
        ref = get_jats_mixed_ref(
            "some text " + HTTPS_SPACED_DOI_URL_PREFIX,
            get_jats_doi_element(DOI_1),
            "tail text",
        )
        fixed = fix_reference(clone_node(ref))
        ext_links = fixed.findall(JatsXpaths.EXT_LINK)
        assert texts(ext_links) == HTTPS_SPACED_DOI_URL_PREFIX + DOI_1
        assert ext_links[0].attrib == {
            "ext-link-type": "uri",
            XLINK_HREF: HTTPS_DOI_URL_PREFIX + DOI_1,
        }

    @pytest.mark.parametrize(
        "children",
        [
            ("some text", "doi-element"),
            ("doi-element",),
            ("other-element", "doi-element"),
            ("other-element", "tail text", "doi-element"),
        ],
    )
    def test_should_remove_doi_prefix(self, children):
        parts = []
        for child in children:
            if child == "doi-element":
                parts.append(get_jats_doi_element("doi:" + DOI_1))
            elif child == "other-element":
                parts.append(E("other", "other text"))
            else:
                parts.append(child)
        fixed = fix_reference(clone_node(get_jats_mixed_ref(*parts)))
        assert texts(fixed.findall(JatsXpaths.DOI)) == DOI_1

    @pytest.mark.parametrize("suffix_label", [" [doi]", " [pii]"])
    @pytest.mark.parametrize("with_tail", [False, True])
    def test_should_remove_label_suffix_from_doi(self, suffix_label, with_tail):
        children = ["doi: ", get_jats_doi_element(DOI_1 + suffix_label)]
        if with_tail:
            children.append("tail text")
        fixed = fix_reference(clone_node(get_jats_mixed_ref(*children)))
        assert texts(fixed.findall(JatsXpaths.DOI)) == DOI_1

    def test_should_remove_doi_duplicate_pii_suffix_from_doi_with_tail(self):
        doi = DOI_1 + ".doi-duplicate"
        ref = get_jats_mixed_ref(
            "doi: ", get_jats_doi_element(doi + "  doi-duplicate [pii]"), "tail text"
        )
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.DOI)) == doi

    def test_should_remove_doi_duplicate_pii_ignoring_punctuation(self):
        doi = DOI_1 + ".doi.duplicate"
        ref = get_jats_mixed_ref(
            "doi: ", get_jats_doi_element(doi + "  doi-duplicate [pii]"), "tail text"
        )
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.DOI)) == doi

    def test_should_remove_duplicate_doi_with_tail(self):
        ref = get_jats_mixed_ref(
            "doi: ", get_jats_doi_element(DOI_1 + "; " + DOI_1), "tail text"
        )
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.DOI)) == DOI_1

    def test_should_remove_duplicate_doi_ignoring_punct_with_tail(self):
        doi_1_a = DOI_1 + ".ab-123"
        doi_1_b = DOI_1 + ".ab.123"
        ref = get_jats_mixed_ref(
            "doi: ", get_jats_doi_element(doi_1_a + "; " + doi_1_b), "tail text"
        )
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.DOI)) == doi_1_a

    def test_should_not_include_pubmed_prefix_in_doi(self):
        ref = get_jats_mixed_ref("doi: ", DOI_1, ". PubMed PMID: ", PMID_1)
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.DOI)) == DOI_1

    def test_should_remove_double_doi_in_ext_link_square_brackets(self):
        ref = get_jats_mixed_ref(
            get_jats_ext_link_element(HTTPS_DOI_URL_PREFIX + DOI_1 + "[" + DOI_1 + "]")
        )
        fixed = fix_reference(clone_node(ref))
        ext_links = fixed.findall(JatsXpaths.EXT_LINK)
        assert texts(ext_links) == HTTPS_DOI_URL_PREFIX + DOI_1
        assert ext_links[0].attrib[XLINK_HREF] == HTTPS_DOI_URL_PREFIX + DOI_1

    def test_should_not_remove_other_square_brackets_from_ext_link(self):
        url = HTTPS_DOI_URL_PREFIX + DOI_1 + "[other]"
        fixed = fix_reference(clone_node(get_jats_mixed_ref(get_jats_ext_link_element(url))))
        ext_links = fixed.findall(JatsXpaths.EXT_LINK)
        assert texts(ext_links) == url
        assert ext_links[0].attrib[XLINK_HREF] == url

    @pytest.mark.parametrize("prefix", [HTTPS_DOI_URL_PREFIX, HTTP_DOI_URL_PREFIX])
    def test_should_split_ext_link_containing_multiple_links(self, prefix):
        url_1 = prefix + DOI_1
        url_2 = prefix + DOI_2
        fixed = fix_reference(
            clone_node(get_jats_mixed_ref(get_jats_ext_link_element(url_1 + url_2)))
        )
        assert [
            text_content(node) for node in fixed.findall(JatsXpaths.EXT_LINK)
        ] == [url_1, url_2]

    def test_should_split_ext_link_with_extra_char_in_href(self):
        url_1 = HTTPS_DOI_URL_PREFIX + DOI_1
        url_2 = HTTPS_DOI_URL_PREFIX + DOI_2
        fixed = fix_reference(
            clone_node(
                get_jats_mixed_ref(
                    get_jats_ext_link_element(url_1 + url_2, url=url_1 + "w" + url_2)
                )
            )
        )
        assert [
            text_content(node) for node in fixed.findall(JatsXpaths.EXT_LINK)
        ] == [url_1, url_2]

    @pytest.mark.parametrize("with_other_element", [False, True])
    def test_should_separately_annotate_pii(self, with_other_element):
        children = ["doi: ", get_jats_doi_element(PII_1 + " [pii]; " + DOI_1 + " [doi]")]
        if with_other_element:
            children = [E("other", "other text")] + children
        fixed = fix_reference(clone_node(get_jats_mixed_ref(*children)))
        assert texts(fixed.findall(JatsXpaths.DOI)) == DOI_1
        assert texts(fixed.findall(JatsXpaths.PII)) == PII_1

    def test_should_separately_annotate_invalid_pii_as_other_pub_id(self):
        ref = get_jats_mixed_ref(
            "doi: ", get_jats_doi_element(INVALID_PII_1 + " [pii]; " + DOI_1 + " [doi]")
        )
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.DOI)) == DOI_1
        assert texts(fixed.findall(JatsXpaths.OTHER_PUB_ID)) == INVALID_PII_1

    def test_should_remove_invalid_pii_pub_id(self):
        fixed = fix_reference(
            clone_node(get_jats_mixed_ref(get_jats_pii_element(INVALID_PII_1)))
        )
        assert texts(fixed.findall(JatsXpaths.PII)) == ""

    def test_should_not_include_doi_colon_in_pii(self):
        ref = get_jats_mixed_ref(
            "doi:", get_jats_doi_element(PII_1 + " [pii]; " + DOI_1 + " [doi]")
        )
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.DOI)) == DOI_1
        assert texts(fixed.findall(JatsXpaths.PII)) == PII_1

    @pytest.mark.parametrize(
        "citation_text",
        ["doi:" + DOI_1, DOI_1 + ".", "[" + DOI_1 + "]"],
        ids=["with-label", "excluding-dot", "in-square-brackets"],
    )
    def test_should_annotate_missing_doi(self, citation_text):
        fixed = fix_reference(clone_node(get_jats_mixed_ref(citation_text)))
        assert texts(fixed.findall(JatsXpaths.DOI)) == DOI_1

    def test_should_keep_original_pmid_if_already_present_and_valid(self):
        ref = get_jats_mixed_ref(get_jats_pmid_element(PMID_1), ", alternative PMID: 123")
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.PMID)) == PMID_1

    def test_should_remove_pmid_non_digit_text(self):
        fixed = fix_reference(
            clone_node(get_jats_mixed_ref(get_jats_pmid_element("PMID: " + PMID_1)))
        )
        assert texts(fixed.findall(JatsXpaths.PMID)) == PMID_1

    def test_should_replace_pmid_with_too_many_digits_text(self):
        ref = get_jats_mixed_ref("PMID: ", get_jats_pmid_element("WOS: " + WOS_1))
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.PMID)) == ""
        assert texts(fixed.findall(JatsXpaths.OTHER_PUB_ID)) == WOS_1

    @pytest.mark.parametrize(
        "children",
        [
            ("PMID:" + PMID_1,),
            ("other-element", "PMID:" + PMID_1),
            (" PMID : " + PMID_1 + " ",),
        ],
        ids=["plain", "after-element", "with-spaces"],
    )
    def test_should_separately_annotate_pmid(self, children):
        parts = [
            E("other", "other text") if child == "other-element" else child
            for child in children
        ]
        fixed = fix_reference(clone_node(get_jats_mixed_ref(*parts)))
        assert texts(fixed.findall(JatsXpaths.PMID)) == PMID_1

    def test_should_annotate_missing_pmid_in_comment(self):
        fixed = fix_reference(
            clone_node(get_jats_mixed_ref(E("comment", "PMID:" + PMID_1)))
        )
        assert texts(fixed.findall(JatsXpaths.PMID)) == PMID_1

    def test_should_remove_double_pmc_prefix_from_pmcid(self):
        ref = get_jats_mixed_ref("PMCID: ", get_jats_pmcid_element("PMC" + PMCID_1))
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.PMCID)) == PMCID_1

    def test_should_annotate_missing_pmcid(self):
        fixed = fix_reference(clone_node(get_jats_mixed_ref("PMCID: " + PMCID_1)))
        assert texts(fixed.findall(JatsXpaths.PMCID)) == PMCID_1

    def test_should_annotate_missing_pmcid_in_comment(self):
        fixed = fix_reference(clone_node(get_jats_mixed_ref(E("comment", PMCID_1))))
        assert texts(fixed.findall(JatsXpaths.PMCID)) == PMCID_1

    def test_should_convert_pub_id_type_to_lower_case(self):
        fixed = fix_reference(
            clone_node(get_jats_mixed_ref(get_jats_pub_id_element(PMCID_1, "PMCID")))
        )
        assert texts(fixed.findall(JatsXpaths.PMCID)) == PMCID_1

    def test_should_remove_pmcid_from_article_title(self):
        ref = get_jats_mixed_ref(
            "title: ", E("article-title", ARTICLE_TITLE_1 + "; " + PMCID_1)
        )
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.ARTICLE_TITLE)) == ARTICLE_TITLE_1

    def test_should_remove_left_right_single_quotes_from_article_title(self):
        ref = get_jats_mixed_ref(
            "title: ",
            E("article-title", LSQUO + ARTICLE_TITLE_1 + RSQUO),
        )
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.ARTICLE_TITLE)) == ARTICLE_TITLE_1

    def test_should_remove_quotes_from_article_title_with_child_elements(self):
        ref = get_jats_mixed_ref(
            "title: ",
            E(
                "article-title",
                LSQUO,
                E("italic", ARTICLE_TITLE_1),
                RSQUO,
            ),
        )
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.ARTICLE_TITLE)) == ARTICLE_TITLE_1

    def test_should_remove_quotes_from_title_with_outside_comma_right_quote(self):
        ref = get_jats_mixed_ref(
            "title: ",
            E("article-title", LSQUO, E("italic", ARTICLE_TITLE_1)),
            ", ",
            RSQUO,
        )
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.ARTICLE_TITLE)) == ARTICLE_TITLE_1

    def test_should_remove_quotes_and_trailing_comma_from_article_title(self):
        ref = get_jats_mixed_ref(
            "title: ",
            E(
                "article-title",
                LDQUO,
                E("italic", ARTICLE_TITLE_1),
                ", ",
            ),
            RDQUO,
        )
        fixed = fix_reference(clone_node(ref))
        assert texts(fixed.findall(JatsXpaths.ARTICLE_TITLE)) == ARTICLE_TITLE_1


class TestFixJatsXmlString:
    def test_should_fix_doi_within_document(self):
        xml = ET.tostring(
            get_jats([get_jats_mixed_ref("doi: ", get_jats_doi_element("doi:" + DOI_1))]),
            encoding="unicode",
        )
        fixed_root = ET.fromstring(fix_jats_xml_string(xml))
        assert texts(fixed_root.findall(JatsXpaths.DOI)) == DOI_1

    def test_should_replace_dagger_entity(self):
        # reference fix_jats_xml_test.py:662-678 / utils/xml.py:60-69
        url = "http://test/path#param1&dagger;"
        expected_url = "http://test/path#param1†"
        xml = "\n".join(
            [
                '  <article><back><ref-list><ref id="r1">',
                '<ext-link href="{url}">{url}</ext-link>'.format(url=url),
                "</ref></ref-list></back></article>",
            ]
        )
        fixed_root = ET.fromstring(fix_jats_xml_string(xml))
        ext_link = fixed_root.findall(".//ext-link")[0]
        assert fixed_root.tag == "article"
        assert ext_link.text == expected_url
        assert ext_link.attrib.get("href") == expected_url


@pytest.fixture(scope="module")
def spark():
    from sciencebeam_trainer_grobid_tools_spark.plans.session import build_session

    session = build_session("jats-fix-tests", cpus=4, shuffle_partitions=8)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


def _jats_doc(ref_children) -> str:
    return ET.tostring(
        get_jats([get_jats_mixed_ref(*children) for children in ref_children]),
        encoding="unicode",
    )


class TestFixJatsXmlColumn:
    def test_should_fix_column_and_isolate_errors(self, spark):
        from sciencebeam_trainer_grobid_tools_spark.operators.jats_fix import (
            fix_jats_xml_column,
        )

        rows = [
            ("a", _jats_doc([("doi: ", get_jats_doi_element("doi:" + DOI_1))])),
            ("b", _jats_doc([("PMID:" + PMID_1,)])),
            ("c", "<article><unclosed></article>"),
        ]
        df = spark.createDataFrame(rows, "doc_id string, jats_xml string")
        out = {
            row["doc_id"]: row
            for row in fix_jats_xml_column(df).collect()
        }
        fixed_a = ET.fromstring(out["a"]["fixed_xml"])
        assert texts(fixed_a.findall(JatsXpaths.DOI)) == DOI_1
        fixed_b = ET.fromstring(out["b"]["fixed_xml"])
        assert texts(fixed_b.findall(JatsXpaths.PMID)) == PMID_1
        assert out["c"]["fixed_xml"] is None
        assert "ParseError" in out["c"]["error"]


class TestRunFixJatsPipeline:
    def test_should_fix_files_preserving_sub_directories(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.operators.jats_fix import (
            run_fix_jats_pipeline,
        )

        input_dir = tmp_path / "input"
        output_dir = tmp_path / "output"
        (input_dir / "sub").mkdir(parents=True)
        (input_dir / "file1.xml").write_text(
            _jats_doc([("doi: ", get_jats_doi_element("doi:" + DOI_1))])
        )
        (input_dir / "sub" / "file2.xml").write_text(_jats_doc([("PMCID: " + PMCID_1,)]))
        counters = run_fix_jats_pipeline(spark, str(input_dir), str(output_dir))
        assert counters == {"fixed": 2, "failed": 0}
        fixed_1 = ET.fromstring((output_dir / "file1.xml").read_text())
        assert texts(fixed_1.findall(JatsXpaths.DOI)) == DOI_1
        fixed_2 = ET.fromstring((output_dir / "sub" / "file2.xml").read_text())
        assert texts(fixed_2.findall(JatsXpaths.PMCID)) == PMCID_1

    def test_should_restrict_to_file_list(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.operators.jats_fix import (
            run_fix_jats_pipeline,
        )

        input_dir = tmp_path / "input"
        output_dir = tmp_path / "output"
        input_dir.mkdir()
        (input_dir / "file1.xml").write_text(_jats_doc([("doi:" + DOI_1,)]))
        (input_dir / "file2.xml").write_text(_jats_doc([("PMID:" + PMID_1,)]))
        counters = run_fix_jats_pipeline(
            spark, str(input_dir), str(output_dir), file_list=["file1.xml"]
        )
        assert counters == {"fixed": 1, "failed": 0}
        assert (output_dir / "file1.xml").exists()
        assert not (output_dir / "file2.xml").exists()
