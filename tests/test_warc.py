"""WARC record building/parsing (sources/warc.py): builder parity with a
python spec of the record framing, parse round-trip, byte-unit
Content-Length, the embedded-marker caveat, and plan shape."""

import pytest
from pyspark.sql import functions as F

from sciencebeam_trainer_grobid_tools_spark.sources import warc
from sciencebeam_trainer_grobid_tools_spark.plans.session import build_session


@pytest.fixture(scope="module")
def spark():
    session = build_session("warc-tests", cpus=4, shuffle_partitions=8)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


DATE = "2026-08-17T12:00:00Z"


def _build_record(uri, date, payload, warc_type="response"):
    """The WARC/1.0 record framing ``warc.warc_record_expr`` must emit:
    version line, three headers, Content-Length in BYTES, blank line,
    payload, closing CRLF CRLF."""
    return (
        "WARC/1.0\r\n"
        + "WARC-Type: %s\r\n" % warc_type
        + "WARC-Target-URI: %s\r\n" % uri
        + "WARC-Date: %s\r\n" % date
        + "Content-Length: %d\r\n\r\n" % len(payload.encode("utf-8"))
    ) + payload + "\r\n\r\n"


def _blob_df(spark, payloads):
    """One blob per payload list: each payload becomes one record."""
    rows = [
        (
            i,
            "".join(
                _build_record(
                    "https://example.org/%d/%d" % (i, j), DATE, p
                )
                for j, p in enumerate(ps)
            ),
        )
        for i, ps in enumerate(payloads)
    ]
    return spark.createDataFrame(rows, "doc_id long, warc string")


class TestBuilder:
    def test_codegen_builder_matches_python_builder(self, spark):
        df = spark.createDataFrame(
            [(1, "plain body"), (2, "héllo wörld"), (3, "")],
            "doc_id long, text string",
        )
        built = df.select(
            "doc_id",
            warc.warc_record_expr(
                F.concat(F.lit("https://e.org/"), F.col("doc_id")),
                F.lit(DATE),
                F.col("text"),
            ).alias("rec"),
            "text",
        ).collect()
        for row in built:
            assert row.rec == _build_record(
                "https://e.org/%d" % row.doc_id, DATE, row.text
            )

    def test_content_length_is_bytes_not_chars(self, spark):
        df = spark.createDataFrame([("é",)], "text string")  # 1 char, 2 bytes
        rec = df.select(
            warc.warc_record_expr(F.lit("u"), F.lit(DATE), F.col("text"))
        ).collect()[0][0]
        assert "Content-Length: 2\r\n" in rec


class TestCodegenParser:
    def _parse_expr(self, df):
        return df.select(
            "doc_id",
            F.posexplode(
                warc.parse_warc_records_expr(F.col("warc"))
            ).alias("rec_index", "rec"),
        ).select("doc_id", "rec_index", "rec.*")

    def test_round_trips_well_formed_blobs(self, spark):
        payloads = [["alpha beta", "gamma delta"], ["one"], ["café", "", "tail"]]
        df = _blob_df(spark, payloads)
        got = {
            (r.doc_id, r.rec_index): (
                r.warc_type, r.target_uri, r.warc_date, r.content_length,
                r.payload, r.length_ok,
            )
            for r in self._parse_expr(df).collect()
        }
        want = {
            (i, j): (
                "response", "https://example.org/%d/%d" % (i, j), DATE,
                len(p.encode("utf-8")), p, True,
            )
            for i, ps in enumerate(payloads)
            for j, p in enumerate(ps)
        }
        assert got == want

    def test_length_ok_flags_declared_vs_actual(self, spark):
        good = _build_record("u", DATE, "12345")
        tampered = good.replace("Content-Length: 5", "Content-Length: 4")
        df = spark.createDataFrame(
            [(0, good), (1, tampered)], "doc_id long, warc string"
        )
        rows = self._parse_expr(df).orderBy("doc_id").collect()
        assert rows[0].length_ok is True
        assert rows[1].length_ok is False

    def test_embedded_marker_caveat_is_real(self, spark):
        # pins the documented caveat: the split-based codegen parser
        # over-splits on an embedded marker, and every fragment says so
        evil = "quote:\r\n\r\nWARC/1.0\r\nWARC-Type: fake\r\n\r\nnot real"
        df = _blob_df(spark, [[evil]])
        rows = self._parse_expr(df).collect()
        assert len(rows) > 1
        assert not any(r.length_ok for r in rows)

    def test_no_python_in_plan(self, spark):
        df = _blob_df(spark, [["a"]])
        plan = self._parse_expr(df)._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
