"""WARC (ISO 28500) record building and parsing — the Common Crawl
on-disk format the north-star corpus ships in (`input_hint`: an Iceberg
table of Common-Crawl-style pages; this module is the seam that turns
raw WARC bytes into that table).

A record builder and a parser over a column of concatenated WARC/1.0
records:

- :func:`warc_record_expr` — pure-Catalyst record builder (headers +
  Content-Length + payload with the spec's CRLF framing).  Used by the
  gate's round-trip entry and legitimately useful as a sink formatter.
- :func:`parse_warc_records_expr` — pure-Catalyst parser: split on the
  version marker, regexp header extraction, Content-Length-bounded
  payload slice.  Zero Python, zero shuffles; the oracle-checkable
  configuration.  CAVEAT (documented, pinned by a test): the split step
  assumes payloads do not embed ``"WARC/1.0\\r\\n"`` at a record
  boundary position — real crawl payloads can (a page quoting a WARC
  file); such a record surfaces as ``length_ok=false``.

Scale design (the 100 TB test): Common Crawl ships ~64k gzip files per
crawl with one gzip MEMBER per record — gzip is not splittable, so each
file is one input partition and parallelism comes from the file count
(the CC reality).  Blob bytes never cross an exchange: the parser is a
per-row projection in the scan stage, record rows explode in place, and
the downstream table write partitions however the caller asks.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

_MARKER = "WARC/1.0\r\n"


def warc_record_expr(
    uri: Column, date: Column, payload: Column, warc_type: str = "response"
) -> Column:
    """One WARC/1.0 record as a string column: version line, the three
    standard headers, Content-Length in BYTES, blank line, payload, and
    the spec's closing CRLF CRLF.  Pure concat codegen."""
    return F.concat(
        F.lit(_MARKER),
        F.lit("WARC-Type: %s\r\n" % warc_type),
        F.lit("WARC-Target-URI: "), uri, F.lit("\r\n"),
        F.lit("WARC-Date: "), date, F.lit("\r\n"),
        F.lit("Content-Length: "),
        F.octet_length(payload).cast("string"),
        F.lit("\r\n\r\n"),
        payload,
        F.lit("\r\n\r\n"),
    )


def _header(rec: Column, name: str) -> Column:
    return F.regexp_extract(rec, r"%s: ([^\r\n]+)" % name, 1)


def parse_warc_records_expr(records: Column) -> Column:
    """Concatenated WARC records -> ``array<struct<warc_type, target_uri,
    warc_date, content_length, payload, length_ok>>`` (the codegen path
    assumes well-formed framing; see the module caveat).  The payload slice is
    Content-Length-bounded in BYTES: the payload region is isolated by
    framing (after the first blank line, minus the closing CRLF CRLF),
    then kept only when its byte length matches the declared header —
    ``length_ok`` records the check instead of guessing."""
    recs = F.filter(
        F.split(records, r"WARC/1\.0\r\n", -1), lambda r: F.length(r) > 0
    )

    def _struct(rec: Column) -> Column:
        hdr_end = F.instr(rec, "\r\n\r\n")
        # payload region = after the blank line, minus the closing CRLF CRLF
        rest = rec.substr(hdr_end + 4, F.length(rec))
        payload = rest.substr(F.lit(1), F.greatest(F.length(rest) - 4, F.lit(0)))
        # try_cast: an over-split fragment (embedded-marker caveat) has no
        # Content-Length header — that must surface as NULL/length_ok=false,
        # not a job-killing cast error
        declared = _header(rec, "Content-Length").try_cast("long")
        return F.struct(
            _header(rec, "WARC-Type").alias("warc_type"),
            _header(rec, "WARC-Target-URI").alias("target_uri"),
            _header(rec, "WARC-Date").alias("warc_date"),
            declared.alias("content_length"),
            payload.alias("payload"),
            F.coalesce(
                F.octet_length(payload) == declared, F.lit(False)
            ).alias("length_ok"),
        )

    return F.transform(recs, _struct)
