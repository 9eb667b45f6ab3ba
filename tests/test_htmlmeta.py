"""HTML metadata extraction (operators/htmlmeta.py): canonical link,
title and OpenGraph across attribute orders, plus the
urlnorm composition and plan shape."""

import pytest
from pyspark.sql import functions as F

from sciencebeam_trainer_grobid_tools_spark.operators import htmlmeta, urlnorm
from sciencebeam_trainer_grobid_tools_spark.plans.session import build_session


@pytest.fixture(scope="module")
def spark():
    session = build_session("htmlmeta-tests", cpus=4, shuffle_partitions=4)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


PAGE = (
    "<html><head>"
    "<title>The Example Page</title>"
    '<link href="https://example.com/canon" rel="canonical">'  # href BEFORE rel
    '<meta content="OG Title" property="og:title">'
    '<meta name="description" content="A page about examples.">'
    "</head><body>x</body></html>"
)


def _df(spark, htmls):
    return spark.createDataFrame(
        [(i, h) for i, h in enumerate(htmls)], "doc_id long, html string"
    )


class TestExtraction:
    def test_all_fields(self, spark):
        row = (
            _df(spark, [PAGE])
            .select(
                htmlmeta.canonical_hint(F.col("html")).alias("canon"),
                htmlmeta.page_title(F.col("html")).alias("title"),
                htmlmeta.og_property(F.col("html"), "title").alias("og"),
            )
            .collect()[0]
        )
        assert row.canon == "https://example.com/canon"
        assert row.title == "The Example Page"
        assert row.og == "OG Title"

    def test_absent_tags_yield_empty_strings(self, spark):
        row = (
            _df(spark, ["<html><body>bare</body></html>"])
            .select(
                htmlmeta.canonical_hint(F.col("html")).alias("canon"),
                htmlmeta.page_title(F.col("html")).alias("title"),
                htmlmeta.og_property(F.col("html"), "title").alias("og"),
            )
            .collect()[0]
        )
        assert (row.canon, row.title, row.og) == ("", "", "")

    def test_non_canonical_links_ignored(self, spark):
        html = '<link rel="stylesheet" href="https://x/css"><link rel="canonical" href="https://x/c">'
        got = (
            _df(spark, [html])
            .select(htmlmeta.canonical_hint(F.col("html")).alias("c"))
            .collect()[0]
            .c
        )
        assert got == "https://x/c"

    def test_composes_with_urlnorm_for_dedup(self, spark):
        # AMP variant declares the same canonical as the desktop page:
        # dedup key folds both onto it
        pages = _df(
            spark,
            [
                '<link rel="canonical" href="https://e.com/a">',  # amp page
                "",  # desktop page declares nothing
            ],
        ).withColumn(
            "url",
            F.when(
                F.col("doc_id") == 0, F.lit("https://amp.e.com/a?amp=1")
            ).otherwise(F.lit("https://e.com/a")),
        )
        key = F.coalesce(
            F.nullif(htmlmeta.canonical_hint(F.col("html")), F.lit("")),
            urlnorm.canonical_url(F.col("url")),
        )
        keys = [r.k for r in pages.select(key.alias("k")).collect()]
        assert keys[0] == keys[1] == "https://e.com/a"

    def test_pure_codegen(self, spark):
        plan = (
            _df(spark, [PAGE])
            .select(htmlmeta.canonical_hint(F.col("html")))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


class TestAdversarialMarkup:
    def test_case_and_quote_variants(self, spark):
        page = (
            "<HTML><HEAD>"
            "<LINK REL='canonical' HREF='https://e.com/canon'>"
            "<META PROPERTY='og:title' CONTENT='Single OG'>"
            "<meta property=og:type content=bareword>"
            "</HEAD></HTML>"
        )
        row = (
            _df(spark, [page])
            .select(
                htmlmeta.canonical_hint(F.col("html")).alias("canon"),
                htmlmeta.og_property(F.col("html"), "title").alias("og"),
                htmlmeta.og_property(F.col("html"), "type").alias("og_type"),
            )
            .collect()[0]
        )
        assert row.canon == "https://e.com/canon"
        assert row.og == "Single OG"
        assert row.og_type == "bareword"

    def test_unquoted_canonical_href(self, spark):
        page = "<link rel=canonical href=https://e.com/c>"
        got = (
            _df(spark, [page])
            .select(htmlmeta.canonical_hint(F.col("html")).alias("c"))
            .collect()[0].c
        )
        assert got == "https://e.com/c"

    def test_double_quoted_still_first_priority(self, spark):
        # a double-quoted value containing an apostrophe must not be
        # misread by the single-quote form
        page = '<meta property="og:title" content="it\'s fine">'
        got = (
            _df(spark, [page])
            .select(htmlmeta.og_property(F.col("html"), "title").alias("d"))
            .collect()[0].d
        )
        assert got == "it's fine"
