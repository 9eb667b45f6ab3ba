"""Spark end-to-end tests: corpus generation -> annotate -> spans + resume.

Uses a small local session (module-scoped) to keep test wall-clock bounded.
"""

import pytest
from pyspark.sql import functions as F

from sciencebeam_trainer_grobid_tools_spark.plans.pipeline import (
    ANNOTATED_COLUMNS,
    annotate_documents,
    resume_filter,
    spans_table,
)
from sciencebeam_trainer_grobid_tools_spark.plans.session import build_session
from sciencebeam_trainer_grobid_tools_spark.sources.corpus import corpus_dataframe

N_DOCS = 40


@pytest.fixture(scope="module")
def spark():
    session = build_session("pipeline-tests", cpus=4, shuffle_partitions=8)
    yield session
    session.stop()


@pytest.fixture(scope="module")
def annotated(spark):
    docs = corpus_dataframe(spark, N_DOCS, seed=42, partitions=4)
    result = annotate_documents(docs, repartition=8).cache()
    yield result
    result.unpersist()


class TestSparkPipeline:
    def test_row_count_and_no_errors(self, annotated):
        assert list(annotated.columns) == list(ANNOTATED_COLUMNS)
        rows = annotated.collect()
        assert len(rows) == N_DOCS
        assert all(r["error"] is None for r in rows)

    def test_extracted_text_byte_identity_vs_text_column_path(self, spark, annotated):
        """The same corpus annotated via the pre-extracted ``text`` column must
        produce byte-identical extracted_text per url (the per-url invariant)."""
        docs = corpus_dataframe(spark, N_DOCS, seed=42, partitions=4)
        via_text = annotate_documents(docs, repartition=8, use_html=False)
        mismatches = (
            annotated.select("url", "extracted_text")
            .join(
                via_text.select(
                    "url", F.col("extracted_text").alias("extracted_text_2")
                ),
                "url",
            )
            .filter(F.col("extracted_text") != F.col("extracted_text_2"))
            .count()
        )
        assert mismatches == 0

    def test_spans_flatten_and_title_alignment_rate(self, annotated):
        flat = spans_table(annotated)
        titles = flat.filter(F.col("field") == "title").count()
        assert titles >= int(N_DOCS * 0.9)

    def test_resume_anti_join(self, spark, annotated):
        docs = corpus_dataframe(spark, N_DOCS, seed=42, partitions=4)
        completed = annotated.select("url").limit(25)
        remaining = resume_filter(docs, completed)
        assert remaining.count() == N_DOCS - 25

    def test_determinism_across_runs(self, spark, annotated):
        docs = corpus_dataframe(spark, N_DOCS, seed=42, partitions=2)
        again = annotate_documents(docs, repartition=4)
        joined = (
            annotated.select("url", "extracted_text", F.size("spans").alias("n1"))
            .join(
                again.select("url", F.size("spans").alias("n2")),
                "url",
            )
            .filter(F.col("n1") != F.col("n2"))
        )
        assert joined.count() == 0


class TestOversizedDocGuard:
    """SURVEY §7.3.5 'large partition class': a giant HTML blob must not
    stall a core inside the alignment kernel (the reference's
    one-doc-per-future model does stall: auto_annotate_utils.py:740-757)."""

    def _docs_with_giant(self, spark, giant_bytes):
        normal = corpus_dataframe(spark, 5, seed=3, partitions=2)
        giant_html = (
            b"<html><body><p>start</p>" + b"x" * giant_bytes + b"</body></html>"
        )
        giant = spark.createDataFrame(
            [("https://giant.example/doc", giant_html, None, "en")],
            "url string, html binary, text string, lang string",
        )
        return normal.select("url", "html", "text", "lang").unionByName(giant)

    def test_giant_doc_routed_to_error_output(self, spark):
        import time

        docs = self._docs_with_giant(spark, 50 * 1024 * 1024)
        t0 = time.time()
        rows = annotate_documents(docs, repartition=4, max_doc_bytes=8 * 1024 * 1024).collect()
        elapsed = time.time() - t0
        assert len(rows) == 6  # the giant doc is accounted for, not dropped
        by_url = {r.url: r for r in rows}
        giant = by_url["https://giant.example/doc"]
        assert giant.passed is False
        assert giant.reason == "oversized_document"
        assert "max_doc_bytes=8388608" in giant.error
        assert giant.extracted_text is None
        ok = [r for r in rows if r.url != "https://giant.example/doc"]
        assert all(r.error is None for r in ok)
        # the 50 MB payload was nulled JVM-side: the batch completes in
        # seconds, not the minutes a kernel pass over 50 MB would take
        assert elapsed < 60

    def test_guard_disabled_processes_payload(self, spark):
        # 0 disables the guard: the doc goes through the kernel normally
        docs = self._docs_with_giant(spark, 200 * 1024)
        rows = annotate_documents(docs, repartition=4, max_doc_bytes=0).collect()
        giant = {r.url: r for r in rows}["https://giant.example/doc"]
        assert giant.error is None
        assert giant.n_lines >= 1
        assert "start" in giant.extracted_text

    def test_guard_counts_in_errors_metric(self, spark):
        from pyspark.sql import Observation

        docs = self._docs_with_giant(spark, 64 * 1024)
        obs = Observation()
        rows = annotate_documents(
            docs, repartition=2, max_doc_bytes=16 * 1024, observation=obs
        ).collect()
        metrics = obs.get
        oversized = [r for r in rows if r.reason == "oversized_document"]
        assert {r.url for r in oversized} >= {"https://giant.example/doc"}
        assert metrics["docs_processed"] == 6
        assert metrics["errors"] == len(oversized)

    def test_small_html_with_giant_unconsumed_text_is_processed(self, spark):
        """The guard sizes the column the kernel will CONSUME: with html
        present, text is never read, so a small-html/giant-text row must be
        annotated normally — and the giant text must be dropped JVM-side so
        it never crosses Arrow (round-6 ADVICE: the greatest-of-both sizing
        silently rerouted such rows to the failed output)."""
        import time

        normal = corpus_dataframe(spark, 5, seed=3, partitions=2)
        small_html = b"<html><body><p>start of a small doc</p></body></html>"
        giant_text = "fallback " + "x" * (50 * 1024 * 1024)
        mixed = spark.createDataFrame(
            [("https://mixed.example/doc", small_html, giant_text, "en")],
            "url string, html binary, text string, lang string",
        )
        docs = normal.select("url", "html", "text", "lang").unionByName(mixed)
        t0 = time.time()
        rows = annotate_documents(
            docs, repartition=4, max_doc_bytes=8 * 1024 * 1024
        ).collect()
        elapsed = time.time() - t0
        row = {r.url: r for r in rows}["https://mixed.example/doc"]
        # processed via the html path, not rejected as oversized
        assert row.reason != "oversized_document"
        assert row.error is None
        assert "start of a small doc" in row.extracted_text
        # the 50 MB unconsumed text never crossed Arrow
        assert elapsed < 60

    def test_giant_text_with_null_html_also_guarded(self, spark):
        """use_html=True + null html: the kernel falls back to text_to_lines,
        so a giant TEXT payload must be sized (and nulled) too — sizing only
        the html column would let the core-stall through with doc_bytes=0."""
        import time

        normal = corpus_dataframe(spark, 5, seed=3, partitions=2)
        giant_text = "start " + "x" * (50 * 1024 * 1024)
        giant = spark.createDataFrame(
            [("https://giant-text.example/doc", None, giant_text, "en")],
            "url string, html binary, text string, lang string",
        )
        docs = normal.select("url", "html", "text", "lang").unionByName(giant)
        t0 = time.time()
        rows = annotate_documents(
            docs, repartition=4, max_doc_bytes=8 * 1024 * 1024, use_html=True
        ).collect()
        elapsed = time.time() - t0
        giant_row = {r.url: r for r in rows}["https://giant-text.example/doc"]
        assert giant_row.reason == "oversized_document"
        assert giant_row.passed is False
        # the 50 MB text was nulled JVM-side: no Arrow transfer, no kernel
        assert elapsed < 60
