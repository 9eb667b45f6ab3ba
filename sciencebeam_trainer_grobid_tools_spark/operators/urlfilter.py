"""URL/domain filtering: the blocklist stage every published web-corpus
pipeline runs FIRST (RefinedWeb §3.1 filters against a ~4.6M-domain
blocklist plus URL word scores before touching page bytes; C4 and Gopher
assume a similar upstream pass).

Operators:

- :func:`url_host` — the lowercased host of a URL as a pure Catalyst
  regexp (port and credentials stripped).
- :func:`host_suffixes` — the host's label suffixes (``a.b.example.com``
  -> ``[a.b.example.com, b.example.com, example.com, com]``) so a
  blocklist entry matches the domain AND every subdomain without any
  public-suffix-list dependency (documented simplification: entries are
  assumed to be registrable domains; listing a bare TLD would block it
  wholesale).
- :func:`filter_blocked_domains` — drop rows whose host (or any parent
  domain) is blocklisted.

Scale design (the 100 TB test): the CORPUS never shuffles.  The match
runs at HOST granularity: distinct hosts (one shuffle of bare host
strings — the only shuffle in the plan, and web corpora have orders of
magnitude fewer hosts than pages) explode into (host, suffix) pairs that
LEFT SEMI join the ``broadcast()`` blocklist; the resulting blocked-host
set — bounded by the blocklist's reach into the corpus, normally tiny —
is itself ``broadcast()`` back as a LEFT ANTI hash join against the
per-row computed host column.  Page rows therefore stay in their scan
partitions end to end.  If the blocked-host set ever outgrew broadcast
range (most of the corpus blocklisted), drop the second hint and AQE
falls back to a shuffled anti join — the documented degradation, not the
design point.
"""

from __future__ import annotations

from typing import Sequence, Union

from pyspark.sql import Column, DataFrame, functions as F

# scheme://[user[:pass]@]HOST[:port][/...]; host = chars up to :/?#.
# (?i) so the scheme parses regardless of case even when a caller skips
# the pre-lowering — unified with robots._url_path's scheme handling.
_HOST_RE = r"(?i)^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([^:/?#]+)"

_HOST = "_uf_host"
_SUFFIX = "_uf_suffix"


def url_host(url: Column) -> Column:
    """Lowercased host portion of a URL ('' when no scheme/host parses —
    an unparseable URL is never silently dropped by the filter)."""
    return F.lower(F.regexp_extract(F.lower(url), _HOST_RE, 1))


def host_suffixes(host: Column, max_labels: int = 8) -> Column:
    """All dot-suffixes of a host, longest first, bounded at
    ``max_labels`` labels (hosts with more labels match on their last
    ``max_labels`` suffixes — blocklist entries are registrable domains,
    which live at the short end, so the bound loses nothing real)."""
    arr = F.split(host, r"\.")
    # slice(arr, -k, k) is EMPTY when len(arr) < k: clamp the start
    start = F.greatest(F.lit(-max_labels), -F.size(arr))
    labels = F.slice(arr, start, F.lit(max_labels))
    n = F.size(labels)
    return F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda i: F.array_join(F.slice(labels, i, n), "."),
        ),
        lambda s: s != "",
    )


def filter_blocked_domains(
    df: DataFrame,
    blocked: Union[DataFrame, Sequence[str]],
    url_col: str = "url",
    domain_col: str = "domain",
    max_labels: int = 8,
) -> DataFrame:
    """Rows whose URL host is NOT the blocklisted domain or any of its
    subdomains.  ``blocked``: a one-column DataFrame (``domain_col``) or
    a plain sequence of domain strings; entries are lowercased.  Rows
    with no parseable host pass through (filter what you can prove)."""
    spark = df.sparkSession
    if not isinstance(blocked, DataFrame):
        blocked = spark.createDataFrame(
            [(str(d),) for d in blocked], "%s string" % domain_col
        )
    dim = F.broadcast(
        blocked.select(F.lower(F.col(domain_col)).alias(_SUFFIX)).distinct()
    )
    hosts = df.select(url_host(F.col(url_col)).alias(_HOST)).distinct()
    blocked_hosts = (
        hosts.select(
            _HOST,
            F.explode(
                host_suffixes(F.col(_HOST), max_labels=max_labels)
            ).alias(_SUFFIX),
        )
        .join(dim, _SUFFIX, "left_semi")
        .select(_HOST)
        .distinct()
    )
    return (
        df.withColumn(_HOST, url_host(F.col(url_col)))
        .join(F.broadcast(blocked_hosts), _HOST, "left_anti")
        .drop(_HOST)
    )


def host_split(
    df: DataFrame,
    fractions: Sequence,
    url_col: str = "url",
    host_col: str = None,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/validation split: every document of a HOST
    lands in the same split (near-duplicates cluster by site — shared
    boilerplate, templated pages, mirrored articles — so a per-document
    split leaks validation content into training; splitting on the host
    key is the standard guard, the same reason eval decontamination
    runs at n-gram level).

    ``fractions`` is an ordered sequence of ``(name, fraction)`` pairs
    (or a dict, insertion-ordered) summing to 1.  Assignment is a
    DETERMINISTIC md5-uniform draw on ``salt:host`` against the
    cumulative fractions — the repo's portable hashing pattern, so a
    DuckDB oracle reproduces the exact membership, re-runs are stable,
    and changing ``salt`` re-deals the split without touching data.

    Scale: pure per-row codegen — no shuffle, no join, no state; the
    split of a 10^12-document corpus is a free column in the scan
    stage.  Unparseable URLs ('' host) hash as one deterministic group
    (they co-locate in a single split rather than scattering).
    """
    pairs = list(fractions.items()) if hasattr(fractions, "items") else [
        tuple(p) for p in fractions
    ]
    if not pairs or any(f < 0 for _, f in pairs):
        raise ValueError("fractions must be non-negative and non-empty")
    total = sum(f for _, f in pairs)
    if abs(total - 1.0) > 1e-9:
        raise ValueError("fractions must sum to 1, got %r" % total)
    host = F.col(host_col) if host_col else url_host(F.col(url_col))
    # NULL urls/hosts coalesce to '' so they draw deterministically too
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.coalesce(host, F.lit("")))),
            1,
            8,
        ),
        16,
        10,
    ).cast("double") / F.lit(float(16 ** 8))
    expr = F.lit(pairs[-1][0])  # the last split absorbs rounding
    cum = 0.0
    branches = []
    for name, frac in pairs[:-1]:
        cum += frac
        branches.append((name, cum))
    for name, cum in reversed(branches):
        expr = F.when(u < cum, F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)
