"""End-to-end per-document kernel tests on the synthetic corpus (no Spark).

The per-url invariant (BASELINE.json): extracted text must be byte-identical
between independent paths (html parse vs pre-extracted text column), and span
offsets must index exactly into the extracted text.
"""

from sciencebeam_trainer_grobid_tools_spark.kernel.doc import tokenize_lines
from sciencebeam_trainer_grobid_tools_spark.operators.extract import html_to_lines
from sciencebeam_trainer_grobid_tools_spark.plans.pipeline import annotate_document_row
from sciencebeam_trainer_grobid_tools_spark.sources.corpus import (
    DEFAULT_XML_MAPPING,
    generate_document,
)

N_DOCS = 60


class TestCorpusDeterminism:
    def test_generator_is_deterministic(self):
        a = generate_document(42, 7)
        b = generate_document(42, 7)
        assert a == b
        c = generate_document(43, 7)
        assert c["html"] != a["html"]


class TestExtractionByteIdentity:
    def test_html_and_text_paths_agree_byte_identical(self):
        for i in range(N_DOCS):
            doc = generate_document(42, i)
            from_html = tokenize_lines(html_to_lines(doc["html"])).extracted_text
            from_text = tokenize_lines(str(doc["text"]).split("\n")).extracted_text
            assert from_html == from_text, "url=%s" % doc["url"]

    def test_boilerplate_is_stripped(self):
        doc = generate_document(42, 0)
        lines = html_to_lines(doc["html"])
        joined = "\n".join(lines)
        assert "Copyright 2024" not in joined
        assert "Site Header" not in joined
        assert "var x=1" not in joined
        # the <head><title> copy is dropped: the title appears exactly once
        first_content_line = str(doc["text"]).split("\n")[0]
        assert lines.count(first_content_line) == 1


class TestAnnotationE2E:
    def test_spans_index_into_extracted_text(self):
        hit_titles = 0
        for i in range(N_DOCS):
            doc = generate_document(42, i)
            result = annotate_document_row(
                url=str(doc["url"]),
                html=doc["html"],
                text=None,
                target_xml=str(doc["target_xml"]),
                mapping_text=DEFAULT_XML_MAPPING,
            )
            text = result["extracted_text"]
            assert result["error"] is None
            for span in result["spans"] + result["sub_spans"]:
                assert text[span["start"] : span["end"]] == span["text"]
            fields = {s["field"] for s in result["spans"]}
            if "title" in fields:
                hit_titles += 1
        # titles are noisified but must still align in the vast majority
        assert hit_titles >= int(N_DOCS * 0.95), hit_titles

    def test_title_span_matches_generated_title_location(self):
        doc = generate_document(42, 3)
        result = annotate_document_row(
            url=str(doc["url"]),
            html=doc["html"],
            text=None,
            target_xml=str(doc["target_xml"]),
            mapping_text=DEFAULT_XML_MAPPING,
        )
        title_spans = [s for s in result["spans"] if s["field"] == "title"]
        assert title_spans
        # the title is the first line of the document
        assert title_spans[0]["start"] == 0

    def test_sub_annotations_present_for_affiliations(self):
        found = 0
        for i in range(N_DOCS):
            doc = generate_document(42, i)
            result = annotate_document_row(
                url=str(doc["url"]),
                html=doc["html"],
                text=None,
                target_xml=str(doc["target_xml"]),
                mapping_text=DEFAULT_XML_MAPPING,
            )
            if any(s["field"].startswith("author_aff-") for s in result["sub_spans"]):
                found += 1
        assert found >= int(N_DOCS * 0.6), found

    def test_checks_pass_rate(self):
        passed = 0
        for i in range(N_DOCS):
            doc = generate_document(42, i)
            result = annotate_document_row(
                url=str(doc["url"]),
                html=doc["html"],
                text=None,
                target_xml=str(doc["target_xml"]),
                mapping_text=DEFAULT_XML_MAPPING,
            )
            passed += bool(result["passed"])
        # uppercase-noised titles legitimately fail the case-sensitive
        # levenshtein check (reference semantics: checks.py:168)
        assert passed >= int(N_DOCS * 0.85), passed


class TestStreamingDpParity:
    """The non-temporal (cache-invisible) DP must produce byte-identical
    blocks to the cached DP at any size (kernel/native.py sw_align16_nt)."""

    def test_random_parity_nt_vs_cached(self):
        import random

        from sciencebeam_trainer_grobid_tools_spark.kernel import native

        if native.get_native_lib() is None:
            import pytest

            pytest.skip("native kernel unavailable")
        saved = native._NT_THRESHOLD_BYTES
        rng = random.Random(99)
        alphabet = "abcdef ghij.,*"
        try:
            for _ in range(200):
                n = rng.randint(1, 500)
                m = rng.randint(1, 80)
                a = "".join(rng.choice(alphabet) for _ in range(n))
                b = "".join(rng.choice(alphabet) for _ in range(m))
                ab, bb = a.encode("utf-32-le"), b.encode("utf-32-le")
                native._NT_THRESHOLD_BYTES = 0
                nt_blocks = native.native_match_blocks(ab, n, bb, m)
                native._NT_THRESHOLD_BYTES = 1 << 30
                cached_blocks = native.native_match_blocks(ab, n, bb, m)
                assert nt_blocks == cached_blocks, (a, b)
        finally:
            native._NT_THRESHOLD_BYTES = saved

    def test_large_matrix_parity(self):
        import random

        from sciencebeam_trainer_grobid_tools_spark.kernel import native

        if native.get_native_lib() is None:
            import pytest

            pytest.skip("native kernel unavailable")
        saved = native._NT_THRESHOLD_BYTES
        rng = random.Random(7)
        alphabet = "abcdefghij klmnop.,"
        a = "".join(rng.choice(alphabet) for _ in range(6000))
        b = a[1000:2200]  # production-shaped: 1200-char needle, ~14 MB matrix
        ab, bb = a.encode("utf-32-le"), b.encode("utf-32-le")
        try:
            native._NT_THRESHOLD_BYTES = 0
            nt_blocks = native.native_match_blocks(ab, len(a), bb, len(b))
            native._NT_THRESHOLD_BYTES = 1 << 30
            cached_blocks = native.native_match_blocks(ab, len(a), bb, len(b))
        finally:
            native._NT_THRESHOLD_BYTES = saved
        assert nt_blocks == cached_blocks
        assert nt_blocks and nt_blocks[0][2] >= 1200  # the real alignment found
