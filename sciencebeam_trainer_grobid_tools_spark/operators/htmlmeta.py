"""HTML metadata extraction — the page-declared signals a web corpus
carries alongside the extracted text: ``<link rel="canonical">`` (the
page's OWN dedup hint — recrawl pipelines fold variants onto the
declared canonical before content hashing), ``<title>``, and the
OpenGraph meta tags used for training-data enrichment.

All pure-Catalyst regexp projections — zero shuffles, zero Python;
attribute order is handled by matching the tag whole and extracting the
attribute from the match (the same pattern as the nofollow filter in
``linkgraph``).  Values are returned raw (entity decoding is the TEI
layer's job); absent tags yield '' so downstream ``nullif`` stays a
caller choice rather than a silent NULL surprise.

Composition note: :func:`canonical_hint` feeds
``urlnorm.canonical_url`` — when a page declares a canonical, dedup on
``coalesce(nullif(canonical_hint, ''), canonical_url(url))`` folds
mobile/AMP/session variants the URL normalizer alone cannot see.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

# All matchers are case-insensitive and robust to double-quoted,
# single-quoted and unquoted attribute values — real web markup mixes
# all three freely (the same hardening as linkgraph's href/rel regexes).
_LINK_TAG_RE = r"(?i)<link\s[^>]*>"
_META_TAG_RE = r"(?i)<meta\s[^>]*>"
_TITLE_RE = r"(?is)<title[^>]*>([^<]*)</title>"


def _attr_contains_re(attr: str, value_substr: str) -> str:
    """Regex matching ``attr=<value containing value_substr>`` under any
    case/quoting (for filtering candidate tags)."""
    v = re.escape(value_substr)
    return r"(?i)%s\s*=\s*(\"[^\"]*%s|'[^']*%s|[^\"'\s>]*%s)" % (
        attr, v, v, v,
    )


def _extract_attr(tag: Column, attr: str) -> Column:
    """Value of ``attr`` in a tag string, trying double-quoted,
    single-quoted then unquoted forms ('' when absent)."""
    forms = [
        r'(?i)%s\s*=\s*"([^"]*)"' % attr,
        r"(?i)%s\s*=\s*'([^']*)'" % attr,
        r"(?i)%s\s*=\s*([^\"'\s>]+)" % attr,
    ]
    return F.coalesce(
        *[F.nullif(F.regexp_extract(tag, rx, 1), F.lit("")) for rx in forms],
        F.lit(""),
    )


def _tag_attr(html: Column, tag_re: str, marker_re: str, attr: str) -> Column:
    """First tag matching ``tag_re`` whose body matches ``marker_re``
    -> its ``attr`` value ('' when absent)."""
    tags = F.regexp_extract_all(html.cast("string"), F.lit(tag_re), 0)
    hits = F.filter(tags, lambda t: t.rlike(marker_re))
    return _extract_attr(F.get(hits, 0), attr)


def canonical_hint(html: Column) -> Column:
    """href of the first ``<link rel=canonical ...>`` in any
    case/quoting ('' if none)."""
    return _tag_attr(
        html, _LINK_TAG_RE, _attr_contains_re("rel", "canonical"), "href"
    )


def page_title(html: Column) -> Column:
    """Text of the first ``<title>`` element ('' if none)."""
    return F.regexp_extract(html.cast("string"), _TITLE_RE, 1)


def og_property(html: Column, prop: str) -> Column:
    """content of the first ``<meta property=og:<prop>>`` ('' if none)."""
    return _tag_attr(
        html,
        _META_TAG_RE,
        _attr_contains_re("property", "og:%s" % prop.lower()),
        "content",
    )
