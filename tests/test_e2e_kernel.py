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


class TestLargeMatrixDp:
    """The C DP returns the numpy oracle's blocks on production-sized
    matrices, not only on the small property-test pairs."""

    def test_large_matrices_equal_numpy_oracle(self):
        import random

        import numpy as np
        import pytest

        from sciencebeam_trainer_grobid_tools_spark.kernel import native
        from sciencebeam_trainer_grobid_tools_spark.kernel.align import (
            _pick_max_cell,
            _smith_waterman_matrix,
            _traceback_blocks,
        )
        from sciencebeam_trainer_grobid_tools_spark.kernel.fuzzy import auto_window

        if native.get_native_lib() is None:
            pytest.skip("native kernel unavailable")
        alphabet = "abcdefghij klmnop.,"
        rng = random.Random(7)
        a = "".join(rng.choice(alphabet) for _ in range(6000))
        # production-shaped: 1200-char needle, ~14 MB int16 matrix
        pairs = [(a, a[1000:2200], 1200)]
        # a 1400-char needle in its auto_window window: 9.4 M cells, 18.8 MB
        window, _ = auto_window(100_000, 1400, 0.8)
        a = "".join(rng.choice(alphabet) for _ in range(window))
        pairs.append((a, a[2000:3400], 1400))
        assert 2 * (window + 1) * 1401 > 16 << 20
        for a, b, needle_len in pairs:
            a_codes = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32)
            b_codes = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
            h = _smith_waterman_matrix(a_codes, b_codes)
            i, j, _ = _pick_max_cell(h)
            expected = _traceback_blocks(h, a_codes, b_codes, i, j)
            del h
            got = native.native_match_blocks(a_codes.tobytes(), len(a), b_codes.tobytes(), len(b))
            assert got == expected
            assert got[0][2] >= needle_len  # the real alignment found
