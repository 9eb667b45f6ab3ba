"""Host-level link graph + PageRank — the crawl-prioritization /
quality signal web-scale corpora rank hosts by (Common Crawl publishes
exactly this shape: a host-level ranking derived from the crawl's link
graph; RefinedWeb and friends consume host reputation as a filter
input).

Operators:

- :func:`extract_outlinks` — ``href`` targets of a page's anchor tags
  as an array column (pure Catalyst ``regexp_extract_all``).
- :func:`host_edges` — the distinct (src_host, dst_host) edge list of a
  page table: outlinks explode IN the scan stage, hosts parse via the
  same :func:`~..operators.urlfilter.url_host` regexp the blocklist
  stage uses, relative links resolve to the page's own host, self-loops
  drop.  ONE shuffle (the distinct on bare host pairs — page bytes
  never leave the scan).
- :func:`pagerank` — the standard damped PageRank over an edge list,
  driver-side loop building a lazy plan per iteration.

PageRank semantics (matched exactly by the gate's unrolled DuckDB
replica): nodes = all hosts appearing as src or dst; rank_0 = 1/N;
rank_{t+1}(v) = (1-d)/N + d * sum over in-edges (u,v) of
rank_t(u)/outdeg(u).  Dangling hosts (no outlinks) keep receiving rank
but by default redistribute none — their mass leaves the system, the
plain Spark-examples convention, so ranks do not sum to 1;
``dangling='redistribute'`` switches to the published formulation
(each iteration adds d * dangling-mass / N to every node, total rank
stays 1) at the cost of one 1-row scalar aggregate per iteration.

Scale design (the 100 TB test): the page corpus is touched ONCE (edge
extraction in the scan stage); everything iterative runs on the HOST
graph, orders of magnitude smaller.  The degree-weighted edge list is
repartitioned by src host once and persisted — every iteration's
rank join then co-partitions against it, so an iteration costs exactly
two bounded shuffles (rank join keyed by src host, contribution sum
keyed by dst host), never a scan of pages.  Each iteration's rank
table persists and the previous one unpersists (lineage stays one step
deep — no exponential plan growth across iterations).  Skewed in-degree
(everyone links to google.com) lands in the SUM's map-side partial
aggregation, not in a join fan-out.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .urlfilter import url_host

# Real web markup mixes tag/attribute case and all three HTML quoting
# styles (double, single, unquoted) — every matcher below is (?i) and
# quote-agnostic.  The value capture keeps surrounding quotes (Java
# regex has no branch reset, so one group must cover all three
# alternatives); _clean_href strips them after extraction.
_HREF_VAL_RE = r"(?i)href\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s\"'>]+)"
_ANCHOR_RE = r"(?i)<a\s[^>]*>"
_NOFOLLOW_RE = (
    r"(?i)rel\s*=\s*(\"[^\"]*nofollow|'[^']*nofollow|[^\"'\s>]*nofollow)"
)


def _clean_href(v: Column) -> Column:
    """Strip surrounding quotes (kept by the single-group capture) and
    the fragment part from an href value."""
    return F.regexp_replace(
        F.regexp_replace(v, r"^[\"']|[\"']$", ""), r"#.*$", ""
    )


def extract_outlinks(html: Column, skip_nofollow: bool = False) -> Column:
    """``href`` targets (fragment part stripped) of the page's anchors —
    case-insensitive and robust to double-quoted, single-quoted and
    unquoted attribute values.

    ``skip_nofollow=True`` honors ``rel=nofollow`` in any case/quoting —
    the crawl-policy signal PageRank-family systems are expected to
    respect (nofollow exists precisely to keep a link out of ranking
    computations): anchor tags are extracted whole, nofollow ones
    filtered, then hrefs pulled per surviving tag.  Still pure Catalyst
    (regexp + filter + transform), zero Python."""
    text = html.cast("string")
    if not skip_nofollow:
        raw = F.regexp_extract_all(text, F.lit(_HREF_VAL_RE), 1)
    else:
        tags = F.regexp_extract_all(text, F.lit(_ANCHOR_RE), 0)
        followed = F.filter(tags, lambda t: ~t.rlike(_NOFOLLOW_RE))
        raw = F.transform(
            followed, lambda t: F.regexp_extract(t, _HREF_VAL_RE, 1)
        )
    return F.filter(F.transform(raw, _clean_href), lambda h: h != "")


def host_edges(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Distinct (src, dst) host pairs of a page table.  Relative links
    (no parseable host) resolve to the page's own host and therefore
    drop with the self-loops; unparseable page URLs ('' host) drop."""
    src = url_host(F.col(url_col))
    exploded = df.select(
        src.alias("src"),
        F.explode(extract_outlinks(F.col(html_col))).alias("link"),
    )
    dst = url_host(F.col("link"))
    dst = F.when(dst != "", dst).otherwise(F.col("src"))
    return (
        exploded.select("src", dst.alias("dst"))
        .where((F.col("src") != "") & (F.col("src") != F.col("dst")))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    persist_each: bool = True,
    dangling: str = "drop",
) -> DataFrame:
    """Damped PageRank over a (src, dst) edge list -> (host, rank).

    ``persist_each=True`` (the scale configuration) materializes each
    iteration's rank table and unpersists the previous one, keeping the
    lineage one step deep at the cost of one job per iteration;
    ``False`` builds a single fully-lazy plan — right for small
    iteration counts and for value-checking the whole computation as
    one query (the gate entry's configuration).

    ``dangling='drop'`` (default) keeps the plain Spark-examples
    convention: dangling hosts redistribute nothing and total rank
    decays.  ``'redistribute'`` is the published formulation (Page et
    al. 1999): each iteration adds ``d * (dangling mass)/N`` to every
    node, so total rank stays 1.  The cost is ONE extra scalar
    aggregate per iteration (a left-semi sum over the host-sized rank
    table, broadcast back as a 1-row literal join) — no new shuffle of
    the edge list."""
    if iters < 1:
        raise ValueError("iters must be >= 1, got %d" % iters)
    if dangling not in ("drop", "redistribute"):
        raise ValueError(
            "dangling must be drop/redistribute, got %r" % dangling
        )
    edge = (
        edges.select(F.col(src).alias("host"), F.col(dst).alias("dst"))
        .where(F.col("host") != F.col("dst"))
        .distinct()
    )
    nodes = (
        edge.select("host")
        .union(edge.select(F.col("dst").alias("host")))
        .distinct()
    )
    outdeg = edge.groupBy("host").agg(F.count(F.lit(1)).alias("deg"))
    # degree-weighted edges: repartition by src host ONCE so every
    # iteration's rank join co-partitions against a persisted layout
    edges_w = edge.join(outdeg, "host").repartition("host")
    dang = None
    if dangling == "redistribute":
        dang = nodes.join(outdeg, "host", "left_anti")
    if persist_each:
        edges_w = edges_w.persist()
        nodes = nodes.persist()
        if dang is not None:
            dang = dang.persist()
    n = nodes.count()
    teleport = (1.0 - damping) / n
    ranks = nodes.select("host", F.lit(1.0 / n).alias("rank"))
    prev = None
    for _ in range(iters):
        contribs = (
            edges_w.join(ranks, "host")
            .select(
                F.col("dst").alias("host"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").alias("c"))
        )
        base = nodes.join(contribs, "host", "left")
        gain = F.coalesce(F.col("c"), F.lit(0.0))
        if dang is not None:
            dsum = ranks.join(dang, "host", "left_semi").agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dsum")
            )
            base = base.crossJoin(F.broadcast(dsum))
            gain = gain + F.col("_dsum") / F.lit(float(n))
        ranks = base.select(
            "host",
            (F.lit(teleport) + F.lit(damping) * gain).alias("rank"),
        )
        if persist_each:
            ranks = ranks.persist()
            ranks.count()  # materialize before releasing the parent
            if prev is not None:
                prev.unpersist()
            prev = ranks
    if persist_each:
        # the final ranks table is already materialized (counted above),
        # so the iteration-support caches release here instead of leaking
        # in long-lived sessions; the returned ranks stays persisted and
        # the CALLER owns its unpersist
        edges_w.unpersist()
        nodes.unpersist()
        if dang is not None:
            dang.unpersist()
    return ranks


_ANCHOR_FULL_RE = r"(?is)<a\s[^>]*>.*?</a>"
_ANCHOR_OPEN_RE = r"(?is)^<a\s[^>]*>"
_ANCHOR_INNER_RE = r"(?is)<a\s[^>]*>(.*)</a>"
_TAG_STRIP_RE = r"(?s)<[^>]*>"


def extract_anchors(html: Column, skip_nofollow: bool = False) -> Column:
    """``array<struct<href,text>>``: each anchor's href target (fragment
    stripped, quote-agnostic) plus its VISIBLE inner text (nested markup
    stripped, whitespace collapsed) — the (link, anchor-text) pairs
    web-scale corpora aggregate into anchor-text datasets (anchor text
    is the classic weak-label/query signal next to the link graph
    itself).  ``skip_nofollow`` tests ``rel=nofollow`` on the OPENING
    tag only (inner text saying 'nofollow' must not drop the link).
    Pure Catalyst: regexp + filter + transform, zero Python."""
    text = html.cast("string")
    tags = F.regexp_extract_all(text, F.lit(_ANCHOR_FULL_RE), 0)
    if skip_nofollow:
        tags = F.filter(
            tags,
            lambda t: ~F.regexp_extract(t, _ANCHOR_OPEN_RE, 0).rlike(
                _NOFOLLOW_RE
            ),
        )

    def to_struct(t: Column) -> Column:
        href = _clean_href(F.regexp_extract(t, _HREF_VAL_RE, 1))
        inner = F.regexp_extract(t, _ANCHOR_INNER_RE, 1)
        txt = F.trim(
            F.regexp_replace(
                F.regexp_replace(inner, _TAG_STRIP_RE, " "), r"\s+", " "
            )
        )
        return F.struct(href.alias("href"), txt.alias("text"))

    return F.filter(F.transform(tags, to_struct), lambda s: s["href"] != "")


def anchor_text_table(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    skip_nofollow: bool = True,
    lowercase: bool = True,
) -> DataFrame:
    """The aggregated anchor-text corpus: (dst_host, anchor_text, n) —
    what others' pages CALL a host (Common Crawl publishes exactly this
    artifact; retrieval corpora mine it for weak query-document pairs).

    Relative links (no parseable host) attribute to the page's own host
    (on-site nav text is still anchor text — unlike ``host_edges`` we
    do NOT drop self-references, a navigation label is signal here);
    empty texts and unparseable page URLs drop.  Scale shape mirrors
    ``host_edges``: anchors explode IN the scan stage (page bytes never
    leave it), then ONE partial-aggregated count shuffle keyed by
    (dst_host, anchor_text) — fine-grained keys, no host-level skew
    concentration."""
    src = url_host(F.col(url_col))
    pairs = df.select(
        src.alias("src"),
        F.explode(
            extract_anchors(F.col(html_col), skip_nofollow=skip_nofollow)
        ).alias("a"),
    ).where(F.col("src") != "")
    # non-navigational schemes (mailto:, javascript:, tel:, ...) must
    # not ride the relative-link fallback into the page's own counts —
    # only scheme-less (relative) and http(s) hrefs attribute anywhere
    href = F.col("a")["href"]
    has_scheme = href.rlike(r"(?i)^[a-z][a-z0-9+.-]*:")
    is_http = href.rlike(r"(?i)^https?://")
    pairs = pairs.where(is_http | ~has_scheme)
    dst = url_host(href)
    dst = F.when(dst != "", dst).otherwise(F.col("src"))
    txt = F.col("a")["text"]
    if lowercase:
        txt = F.lower(txt)
    return (
        pairs.select(dst.alias("dst_host"), txt.alias("anchor_text"))
        .where(F.col("anchor_text") != "")
        .groupBy("dst_host", "anchor_text")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_SITEMAP_LOC_RE = r"(?is)<loc[^>]*>\s*([^<\s][^<]*?)\s*</loc>"


def sitemap_locs(xml: Column) -> Column:
    """URL discovery from sitemap.xml documents: every ``<loc>`` value
    (whitespace-trimmed), for both urlset and sitemapindex files — the
    crawl-frontier feed that complements outlink extraction.  Pure
    codegen ``regexp_extract_all``."""
    return F.regexp_extract_all(xml.cast("string"), F.lit(_SITEMAP_LOC_RE), 1)
