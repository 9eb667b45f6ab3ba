"""CLI parity mains (cli/*): the reference's ``auto_annotate_*`` flag surface
mapped onto the Spark file driver.  The header/segmentation cases reuse the
``test_auto_annotate_driver`` golden shapes so the CLI provably drives the
same pipeline."""

import xml.etree.ElementTree as ET

import pytest

from sciencebeam_trainer_grobid_tools_spark.cli import (
    auto_annotate_header,
    auto_annotate_segmentation,
    shared,
)

TITLE_1 = "Chocolate bars for mice"
ABSTRACT_1 = "This study explores the nutritious value of chocolate bars for mice."


@pytest.fixture(scope="module")
def spark():
    from sciencebeam_trainer_grobid_tools_spark.plans.session import build_session

    session = build_session("cli-tests", cpus=4, shuffle_partitions=8)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


def xpath_text(xml_str: str, path: str) -> str:
    root = ET.fromstring(xml_str)
    return " ".join("".join(node.itertext()) for node in root.findall(path))


def write_header_pair(tmp_path, front_inner: str, xml: str, stem: str = "document1"):
    (tmp_path / "tei-raw").mkdir(exist_ok=True)
    (tmp_path / "xml").mkdir(exist_ok=True)
    (tmp_path / "tei-raw" / ("%s.header.tei.xml" % stem)).write_text(
        "<tei><text><front>%s</front></text></tei>" % front_inner
    )
    (tmp_path / "xml" / ("%s.xml" % stem)).write_text(xml)


def target_xml(title: str = "", extra: str = "") -> str:
    return (
        "<article><front><article-meta>"
        "<title-group><article-title>%s</article-title></title-group>%s"
        "</article-meta></front></article>" % (title, extra)
    )


def header_argv(tmp_path, *extra):
    return [
        "--source-base-path", str(tmp_path / "tei-raw"),
        "--output-path", str(tmp_path / "tei-auto"),
        "--xml-path", str(tmp_path / "xml"),
        "--xml-filename-regex", r"/(.*).header.tei.xml/\1.xml/",
        *extra,
    ]


class TestSharedParsing:
    def test_parse_dict(self):
        assert shared.parse_dict("a=1|b.c = x y ") == {"a": "1", "b.c": "x y"}

    def test_parse_dict_rejects_missing_equals(self):
        import argparse

        with pytest.raises(argparse.ArgumentTypeError):
            shared.parse_dict("novalue")

    def test_requires_source(self, tmp_path):
        with pytest.raises(SystemExit):
            auto_annotate_header.parse_args(
                ["--output-path", "o", "--xml-path", "x",
                 "--xml-filename-regex", "/a/b/"]
            )

    def test_fields_plus_minus_syntax(self, tmp_path):
        args = auto_annotate_segmentation.parse_args(
            header_argv(tmp_path, "--fields=-reference,+extra")
        )
        assert "reference" not in args.fields
        assert "extra" in args.fields
        assert "title" in args.fields

    def test_matcher_flags(self, tmp_path):
        args = auto_annotate_header.parse_args(
            header_argv(tmp_path, "--matcher", "complex",
                        "--matcher-score-threshold", "0.9",
                        "--matcher-lookahead-lines", "123")
        )
        assert args.matcher == "complex"
        assert args.matcher_score_threshold == 0.9
        assert args.matcher_lookahead_lines == 123


class TestHeaderCli:
    def test_should_auto_annotate_title(self, spark, tmp_path):
        # same golden as TestRunAutoAnnotateHeader.test_should_auto_annotate_title
        write_header_pair(tmp_path, "<note>%s</note>" % TITLE_1, target_xml(TITLE_1))
        counters = auto_annotate_header.main(
            header_argv(tmp_path, "--fields", "title")
        )
        assert counters == {"passed": 1, "failed": 0}
        out = (tmp_path / "tei-auto" / "document1.header.tei.xml").read_text()
        assert xpath_text(out, ".//docTitle/titlePart") == TITLE_1

    def test_mapping_parsed_once_per_run(self, spark, tmp_path, monkeypatch):
        import sys

        from sciencebeam_trainer_grobid_tools_spark.operators import targets

        original = targets.parse_xml_mapping_string
        calls = []

        def counting(*args, **kwargs):
            calls.append(1)
            return original(*args, **kwargs)

        # every driver-side binding of the parser, wherever it was imported
        for name, module in list(sys.modules.items()):
            if (
                name.startswith("sciencebeam_trainer_grobid_tools_spark")
                and getattr(module, "parse_xml_mapping_string", None) is original
            ):
                monkeypatch.setattr(module, "parse_xml_mapping_string", counting)
        write_header_pair(tmp_path, "<note>%s</note>" % TITLE_1, target_xml(TITLE_1))
        counters = auto_annotate_header.main(
            header_argv(tmp_path, "--fields", "title")
        )
        assert counters == {"passed": 1, "failed": 0}
        assert len(calls) == 1

    def test_complex_matcher_annotates_title(self, spark, tmp_path):
        write_header_pair(tmp_path, "<note>%s</note>" % TITLE_1, target_xml(TITLE_1))
        counters = auto_annotate_header.main(
            header_argv(tmp_path, "--fields", "title", "--matcher", "complex")
        )
        assert counters == {"passed": 1, "failed": 0}
        out = (tmp_path / "tei-auto" / "document1.header.tei.xml").read_text()
        assert xpath_text(out, ".//docTitle/titlePart") == TITLE_1

    def test_limit_and_resume(self, spark, tmp_path):
        write_header_pair(tmp_path, "<note>%s</note>" % TITLE_1, target_xml(TITLE_1))
        write_header_pair(
            tmp_path, "<note>%s</note>" % TITLE_1, target_xml(TITLE_1), stem="document2"
        )
        counters = auto_annotate_header.main(
            header_argv(tmp_path, "--fields", "title", "--limit", "1")
        )
        assert counters == {"passed": 1, "failed": 0}
        # resume: the already-produced output is skipped, the other processed
        counters = auto_annotate_header.main(
            header_argv(tmp_path, "--fields", "title", "--resume")
        )
        assert counters == {"passed": 1, "failed": 0}
        assert (tmp_path / "tei-auto" / "document1.header.tei.xml").exists()
        assert (tmp_path / "tei-auto" / "document2.header.tei.xml").exists()

    def test_failed_output_path(self, spark, tmp_path):
        write_header_pair(tmp_path, "<note>something else</note>", target_xml(TITLE_1))
        counters = auto_annotate_header.main(
            header_argv(
                tmp_path, "--fields", "title",
                "--require-matching-fields", "title",
                "--failed-output-path", str(tmp_path / "tei-failed"),
            )
        )
        assert counters == {"passed": 0, "failed": 1}
        assert (tmp_path / "tei-failed" / "document1.header.tei.xml").exists()


class TestSegmentationCli:
    def test_should_annotate_front(self, spark, tmp_path):
        # same golden as the driver's segmentation case: title -> //text/front
        (tmp_path / "tei-raw").mkdir(exist_ok=True)
        (tmp_path / "xml").mkdir(exist_ok=True)
        (tmp_path / "tei-raw" / "document1.segmentation.tei.xml").write_text(
            "<tei><text><note>%s</note></text></tei>" % TITLE_1
        )
        (tmp_path / "xml" / "document1.xml").write_text(target_xml(TITLE_1))
        counters = auto_annotate_segmentation.main(
            [
                "--source-base-path", str(tmp_path / "tei-raw"),
                "--output-path", str(tmp_path / "tei-auto"),
                "--xml-path", str(tmp_path / "xml"),
                "--xml-filename-regex", r"/(.*).segmentation.tei.xml/\1.xml/",
            ]
        )
        assert counters == {"passed": 1, "failed": 0}
        out = (tmp_path / "tei-auto" / "document1.segmentation.tei.xml").read_text()
        assert TITLE_1 in xpath_text(out, ".//front")

    def test_line_number_annotator_renders_margin_numbers(self, spark, tmp_path):
        """--use-line-number-annotator: margin line numbers, each extracted
        as a line of its own before its text line, are tagged line_no and
        render as note[@type="line_no"]."""
        (tmp_path / "tei-raw").mkdir(exist_ok=True)
        (tmp_path / "xml").mkdir(exist_ok=True)
        numbered = "".join(
            "%d<lb/>body text line %d<lb/>" % (i + 1, i + 1) for i in range(12)
        )
        (tmp_path / "tei-raw" / "document1.segmentation.tei.xml").write_text(
            "<tei><text>%s<lb/>%s</text></tei>" % (TITLE_1, numbered)
        )
        (tmp_path / "xml" / "document1.xml").write_text(target_xml(TITLE_1))
        counters = auto_annotate_segmentation.main(
            [
                "--source-base-path", str(tmp_path / "tei-raw"),
                "--output-path", str(tmp_path / "tei-auto"),
                "--xml-path", str(tmp_path / "xml"),
                "--xml-filename-regex", r"/(.*).segmentation.tei.xml/\1.xml/",
                "--use-line-number-annotator",
            ]
        )
        assert counters == {"passed": 1, "failed": 0}
        out = ET.fromstring(
            (tmp_path / "tei-auto" / "document1.segmentation.tei.xml").read_text()
        )
        assert texts(out, './/note[@type="line_no"]') == [
            str(i + 1) for i in range(12)
        ]
        assert TITLE_1 in " ".join(texts(out, ".//front"))


REFSEG_XML_MAPPING = """
[article]
reference = back/ref-list/ref
reference.children = .//*
reference.use-raw-text = true
reference.bonding = true
reference.merge = false
reference.sub.reference-label = ./label
"""

TABLE_XML_MAPPING = """
[article]
table = //table-wrap
table.priority = 1
table.block = figures
table.children = ./label | ./caption
table.children.concat = [[{"xpath": "./label"}, {"value": " "}, {"xpath": "./caption"}]]
table.sub.table-label = ./label
table.sub.table-caption = ./caption
"""

AFFILIATION_XML_MAPPING = """
[article]
author_aff =
  front/article-meta/contrib-group/aff
  front/article-meta/aff
author_aff.children = .//*
author_aff.unmatched-parent-text = true
author_aff.match-multiple = true
author_aff.sub.author_aff-label = ./label
author_aff.sub.author_aff-institution = ./institution
author_aff.match-prefix-regex = ({author_aff-label})\\s*[\\.-]*\\s*$
"""


def texts(root, path):
    return ["".join(node.itertext()) for node in root.findall(path)]


def setup_flavor_pair(tmp_path, tei_name, tei_content, xml_content, mapping):
    (tmp_path / "tei-raw").mkdir(exist_ok=True)
    (tmp_path / "xml").mkdir(exist_ok=True)
    (tmp_path / "tei-raw" / tei_name).write_text(tei_content)
    (tmp_path / "xml" / "document1.xml").write_text(xml_content)
    (tmp_path / "mapping.conf").write_text(mapping)


class TestReferenceSegmenterCli:
    def test_reference_label_and_text(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.cli import (
            auto_annotate_reference_segmenter,
        )

        setup_flavor_pair(
            tmp_path,
            "document1.references.referenceSegmenter.tei.xml",
            "<tei><text><note>1 reference A</note></text></tei>",
            "<article><front/><body/><back><ref-list>"
            "<ref><label>1</label><mixed-citation>reference A</mixed-citation></ref>"
            "</ref-list></back></article>",
            REFSEG_XML_MAPPING,
        )
        counters = auto_annotate_reference_segmenter.main(
            [
                "--source-base-path", str(tmp_path / "tei-raw"),
                "--output-path", str(tmp_path / "tei-auto"),
                "--xml-path", str(tmp_path / "xml"),
                "--xml-filename-regex",
                r"/(.*).references.referenceSegmenter.tei.xml/\1.xml/",
                "--xml-mapping-path", str(tmp_path / "mapping.conf"),
            ]
        )
        assert counters == {"passed": 1, "failed": 0}
        out = ET.fromstring(
            (tmp_path / "tei-auto"
             / "document1.references.referenceSegmenter.tei.xml").read_text()
        )
        assert texts(out, ".//listBibl/bibl") == ["1 reference A"]
        assert texts(out, ".//listBibl/bibl/label") == ["1"]


class TestTableCli:
    def test_table_label_and_caption(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.cli import auto_annotate_table

        setup_flavor_pair(
            tmp_path,
            "document1.table.tei.xml",
            '<tei><text><figure type="table">Table 1 Summary of results</figure>'
            "</text></tei>",
            "<article><front/><body><table-wrap><label>Table 1</label>"
            "<caption><p>Summary of results</p></caption></table-wrap></body>"
            "<back/></article>",
            TABLE_XML_MAPPING,
        )
        counters = auto_annotate_table.main(
            [
                "--source-base-path", str(tmp_path / "tei-raw"),
                "--output-path", str(tmp_path / "tei-auto"),
                "--xml-path", str(tmp_path / "xml"),
                "--xml-filename-regex", r"/(.*).table.tei.xml/\1.xml/",
                "--xml-mapping-path", str(tmp_path / "mapping.conf"),
            ]
        )
        assert counters == {"passed": 1, "failed": 0}
        out = ET.fromstring(
            (tmp_path / "tei-auto" / "document1.table.tei.xml").read_text()
        )
        assert texts(out, './/figure[@type="table"]/head/label') == ["Table 1"]
        assert texts(out, './/figure[@type="table"]/figDesc') == [
            "Summary of results"
        ]


class TestAffiliationCli:
    def test_affiliation_label(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.cli import (
            auto_annotate_affiliation_address,
        )

        setup_flavor_pair(
            tmp_path,
            "document1.affiliation.tei.xml",
            "<tei><teiHeader><fileDesc><sourceDesc><biblStruct><analytic>"
            "<author><affiliation>1 Some institution</affiliation></author>"
            "</analytic></biblStruct></sourceDesc></fileDesc></teiHeader></tei>",
            "<article><front><article-meta><contrib-group>"
            "<aff><label>1</label> <institution>Some institution</institution></aff>"
            "</contrib-group></article-meta></front><body/><back/></article>",
            AFFILIATION_XML_MAPPING,
        )
        counters = auto_annotate_affiliation_address.main(
            [
                "--source-base-path", str(tmp_path / "tei-raw"),
                "--output-path", str(tmp_path / "tei-auto"),
                "--xml-path", str(tmp_path / "xml"),
                "--xml-filename-regex", r"/(.*).affiliation.tei.xml/\1.xml/",
                "--xml-mapping-path", str(tmp_path / "mapping.conf"),
            ]
        )
        assert counters == {"passed": 1, "failed": 0}
        out = ET.fromstring(
            (tmp_path / "tei-auto" / "document1.affiliation.tei.xml").read_text()
        )
        assert texts(out, ".//affiliation/marker") == ["1"]
        assert "Some institution" in " ".join(texts(out, ".//affiliation"))


class TestFixJatsXmlCli:
    def test_fixes_doi_in_directory(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.cli import fix_jats_xml

        src = tmp_path / "jats"
        src.mkdir()
        (src / "a.xml").write_text(
            "<article><back><ref-list><ref id=\"r1\"><mixed-citation>"
            "x doi: 10.1234/abc.def\nrest of citation"
            "</mixed-citation></ref></ref-list></back></article>"
        )
        counters = fix_jats_xml.main(
            [
                "--source-base-path", str(src),
                "--output-path", str(tmp_path / "fixed"),
            ]
        )
        assert counters == {"fixed": 1, "failed": 0}
        out = (tmp_path / "fixed" / "a.xml").read_text()
        assert "10.1234/abc.def</" in out
        assert "rest of citation" in out

    def test_single_source_path(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.cli import fix_jats_xml

        src = tmp_path / "jats"
        src.mkdir()
        (src / "a.xml").write_text("<article><front/></article>")
        (src / "b.xml").write_text("<article><front/></article>")
        counters = fix_jats_xml.main(
            [
                "--source-path", str(src / "a.xml"),
                "--output-path", str(tmp_path / "fixed"),
            ]
        )
        assert counters == {"fixed": 1, "failed": 0}
        assert (tmp_path / "fixed" / "a.xml").exists()
        assert not (tmp_path / "fixed" / "b.xml").exists()


class TestDownloadSourceFilesCli:
    def test_copies_pairs(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.cli import download_source_files

        src = tmp_path / "source"
        (src / "docs").mkdir(parents=True)
        (src / "xmls").mkdir(parents=True)
        doc_list, tgt_list = [], []
        for stem in ("doc1", "doc2"):
            doc = src / "docs" / ("%s.pdf" % stem)
            tgt = src / "xmls" / ("%s.xml" % stem)
            doc.write_bytes(b"%PDF " + stem.encode())
            tgt.write_text("<article>%s</article>" % stem)
            doc_list.append(str(doc))
            tgt_list.append(str(tgt))
        (src / "document-file-list.lst").write_text("\n".join(doc_list))
        (src / "target-file-list.lst").write_text("\n".join(tgt_list))
        counters = download_source_files.main(
            [
                "--document-file-list", str(src / "document-file-list.lst"),
                "--target-file-list", str(src / "target-file-list.lst"),
                "--document-output-path", str(tmp_path / "out" / "document"),
                "--target-output-path", str(tmp_path / "out" / "target"),
                "--document-output-filename-pattern", "{filename}",
                "--target-output-filename-pattern", "{filename}",
            ]
        )
        assert counters == {"copied": 2, "skipped": 0}
        assert (tmp_path / "out" / "document" / "doc1.pdf").read_bytes() == b"%PDF doc1"
        assert (tmp_path / "out" / "target" / "doc2.xml").exists()


FULLTEXT_XML_MAPPING = """
[article]
section_title =
  ./body//sec
  ./back//sec
section_title.children = ./title
section_title.children.concat = [[{"xpath": "./label"}, {"value": " "}, {"xpath": "./title"}]]
section_paragraph =
  (//sec | //ack)/p
  ./body/p
section_paragraph.max_chunks = 2
"""

FIGURE_XML_MAPPING = """
[article]
figure = //fig
figure.priority = 1
figure.block = figures
figure.children = ./label | ./caption
figure.children.concat = [[{"xpath": "./label"}, {"value": " "}, {"xpath": "./caption"}]]
figure.sub.figure-label = ./label
figure.sub.figure-caption = ./caption
"""


class TestFulltextCli:
    def test_section_title_and_paragraph(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.cli import auto_annotate_fulltext

        setup_flavor_pair(
            tmp_path,
            "document1.fulltext.tei.xml",
            "<tei><text>1 Introduction<lb/>"
            "The quick brown fox jumps over the lazy dog today.<lb/></text></tei>",
            "<article><front/><body>"
            "<sec><label>1</label><title>Introduction</title>"
            "<p>The quick brown fox jumps over the lazy dog today.</p></sec>"
            "</body><back/></article>",
            FULLTEXT_XML_MAPPING,
        )
        counters = auto_annotate_fulltext.main(
            [
                "--source-base-path", str(tmp_path / "tei-raw"),
                "--output-path", str(tmp_path / "tei-auto"),
                "--xml-path", str(tmp_path / "xml"),
                "--xml-filename-regex", r"/(.*).fulltext.tei.xml/\1.xml/",
                "--xml-mapping-path", str(tmp_path / "mapping.conf"),
                "--fields", "section_title,section_paragraph",
            ]
        )
        assert counters == {"passed": 1, "failed": 0}
        out = ET.fromstring(
            (tmp_path / "tei-auto" / "document1.fulltext.tei.xml").read_text()
        )
        assert texts(out, ".//head") == ["1 Introduction"]
        assert texts(out, ".//p") == [
            "The quick brown fox jumps over the lazy dog today."
        ]


class TestFigureCli:
    def test_figure_label_and_caption(self, spark, tmp_path):
        from sciencebeam_trainer_grobid_tools_spark.cli import auto_annotate_figure

        setup_flavor_pair(
            tmp_path,
            "document1.figure.tei.xml",
            "<tei><text><figure>Figure 1 A mouse eating chocolate</figure>"
            "</text></tei>",
            "<article><front/><body><fig><label>Figure 1</label>"
            "<caption><p>A mouse eating chocolate</p></caption></fig></body>"
            "<back/></article>",
            FIGURE_XML_MAPPING,
        )
        counters = auto_annotate_figure.main(
            [
                "--source-base-path", str(tmp_path / "tei-raw"),
                "--output-path", str(tmp_path / "tei-auto"),
                "--xml-path", str(tmp_path / "xml"),
                "--xml-filename-regex", r"/(.*).figure.tei.xml/\1.xml/",
                "--xml-mapping-path", str(tmp_path / "mapping.conf"),
            ]
        )
        assert counters == {"passed": 1, "failed": 0}
        out = ET.fromstring(
            (tmp_path / "tei-auto" / "document1.figure.tei.xml").read_text()
        )
        assert texts(out, ".//figure/head/label") == ["Figure 1"]
        assert texts(out, ".//figure/figDesc") == ["A mouse eating chocolate"]


class TestReferenceCli:
    def test_sub_annotates_preserved_bibl(self, spark, tmp_path):
        """Reference flavor (sub-tag-only default): existing bibl tags are
        preserved via the default always-preserve and label/year get
        sub-annotated within them."""
        from sciencebeam_trainer_grobid_tools_spark.cli import auto_annotate_reference

        setup_flavor_pair(
            tmp_path,
            "document1.references.tei.xml",
            "<tei><text><back><listBibl><bibl>1 Smith J 2001</bibl>"
            "</listBibl></back></text></tei>",
            "<article><front/><body/><back><ref-list>"
            "<ref><label>1</label><mixed-citation><name>Smith J</name> "
            "<year>2001</year></mixed-citation></ref>"
            "</ref-list></back></article>",
            REFSEG_XML_MAPPING.replace(
                "reference.sub.reference-label = ./label",
                "reference.sub.reference-label = ./label\n"
                "reference.sub.reference-year = .//year",
            ),
        )
        counters = auto_annotate_reference.main(
            [
                "--source-base-path", str(tmp_path / "tei-raw"),
                "--output-path", str(tmp_path / "tei-auto"),
                "--xml-path", str(tmp_path / "xml"),
                "--xml-filename-regex", r"/(.*).references.tei.xml/\1.xml/",
                "--xml-mapping-path", str(tmp_path / "mapping.conf"),
            ]
        )
        assert counters == {"passed": 1, "failed": 0}
        out = ET.fromstring(
            (tmp_path / "tei-auto" / "document1.references.tei.xml").read_text()
        )
        assert texts(out, ".//bibl/label") == ["1"]
        assert texts(out, ".//bibl/date") == ["2001"]


class TestAnnotateCorpusCli:
    def test_resumable_corpus_run(self, spark, tmp_path):
        """North-star main: corpus parquet in -> annotated parquet +
        manifest lineage out; a second run resumes to a no-op."""
        import json

        from sciencebeam_trainer_grobid_tools_spark.cli import annotate_corpus
        from sciencebeam_trainer_grobid_tools_spark.sources.corpus import (
            corpus_dataframe,
        )

        corpus_path = str(tmp_path / "corpus")
        corpus_dataframe(spark, 40, seed=7, partitions=2).write.parquet(corpus_path)
        out_dir = str(tmp_path / "out")
        argv = [
            "--input-path", corpus_path,
            "--output-path", out_dir,
            "--chunk-size", "25",
        ]
        counters = annotate_corpus.main(argv)
        assert counters == {"chunks": 2, "rows": 40}
        annotated = spark.read.parquet(out_dir + "/annotated")
        assert annotated.count() == 40
        assert "url" in annotated.columns and "spans" in annotated.columns
        manifest = [
            json.loads(line)
            for line in open(tmp_path / "out" / "manifest.jsonl", encoding="utf-8")
        ]
        assert [m["rows"] for m in manifest] == [25, 15]
        assert all(m["partition_files"] for m in manifest)
        # resume: everything already annotated -> zero new chunks
        counters = annotate_corpus.main(argv)
        assert counters == {"chunks": 0, "rows": 0}

    def test_limit_chunks_come_from_the_planned_urls(self, spark, tmp_path):
        """--limit 30 --chunk-size 10: each chunk writes 10 distinct urls of
        the 30 the plan numbered, and a second run finds nothing left."""
        import json

        from sciencebeam_trainer_grobid_tools_spark.cli import annotate_corpus
        from sciencebeam_trainer_grobid_tools_spark.sources.corpus import (
            corpus_dataframe,
        )

        corpus_path = str(tmp_path / "corpus")
        corpus_dataframe(spark, 40, seed=5, partitions=3).write.parquet(corpus_path)
        out_dir = str(tmp_path / "out")
        argv = [
            "--input-path", corpus_path,
            "--output-path", out_dir,
            "--chunk-size", "10",
            "--limit", "30",
        ]
        assert annotate_corpus.main(argv) == {"chunks": 3, "rows": 30}
        manifest = [
            json.loads(line)
            for line in open(tmp_path / "out" / "manifest.jsonl", encoding="utf-8")
        ]
        assert [m["rows"] for m in manifest] == [10, 10, 10]
        urls = [
            r.url for r in spark.read.parquet(out_dir + "/annotated").select("url").collect()
        ]
        assert len(urls) == len(set(urls)) == 30
        assert annotate_corpus.main(argv) == {"chunks": 0, "rows": 0}

    def test_max_doc_bytes_flag_routes_oversized_docs(self, spark, tmp_path):
        """--max-doc-bytes: oversized payloads become accounted
        oversized_document error rows instead of entering the kernel."""
        from pyspark.sql import functions as F

        from sciencebeam_trainer_grobid_tools_spark.cli import annotate_corpus
        from sciencebeam_trainer_grobid_tools_spark.sources.corpus import (
            corpus_dataframe,
        )

        corpus_path = str(tmp_path / "corpus")
        docs = corpus_dataframe(spark, 6, seed=13, partitions=1).select(
            "url", "html", "text", "lang", "target_xml"
        )
        giant = spark.createDataFrame(
            [("doc://giant", b"<html><p>big</p>" + b"z" * 300000 + b"</html>",
              None, "en", None)],
            "url string, html binary, text string, lang string, target_xml string",
        )
        docs.unionByName(giant).write.parquet(corpus_path)
        out_dir = str(tmp_path / "out")
        counters = annotate_corpus.main([
            "--input-path", corpus_path,
            "--output-path", out_dir,
            "--max-doc-bytes", "100000",
        ])
        assert counters["rows"] == 7
        annotated = spark.read.parquet(out_dir + "/annotated")
        oversized = annotated.filter(
            F.col("reason") == "oversized_document"
        ).collect()
        assert [r["url"] for r in oversized] == ["doc://giant"]
        assert oversized[0]["passed"] is False
        assert annotated.filter(F.col("error").isNull()).count() == 6


class TestDebugMatchCli:
    def test_complex_matcher_debug_match_keeps_all_documents(self, spark, tmp_path):
        """--debug-match with the complex matcher: documents in one task must
        append to one per-task reporter, not overwrite each other."""
        import csv
        import glob

        write_header_pair(tmp_path, "<note>%s</note>" % TITLE_1, target_xml(TITLE_1))
        write_header_pair(
            tmp_path, "<note>%s</note>" % TITLE_1, target_xml(TITLE_1), stem="document2"
        )
        debug_path = str(tmp_path / "debug.csv")
        counters = auto_annotate_header.main(
            header_argv(
                tmp_path, "--fields", "title", "--matcher", "complex",
                "--debug-match", debug_path,
            )
        )
        assert counters == {"passed": 2, "failed": 0}
        rows = []
        for part in glob.glob(str(tmp_path / "debug*.csv")):
            with open(part, encoding="utf-8") as handle:
                rows.extend(list(csv.DictReader(handle)))
        accepted_titles = [r for r in rows if r["tag"] == "title" and r["accepted"] == "True"]
        assert len(accepted_titles) == 2, rows
