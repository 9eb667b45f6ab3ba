"""URL canonicalization + recrawl dedup for Common-Crawl-style corpora.

The north-rule input is an Iceberg table keyed by ``(url, warc_ts)``; real
crawls carry the same page many times under trivially-different URLs
(tracking parameters, case-variant hosts, fragments) and under the same URL
across recrawls.  ``canonical_url`` folds the trivial variants with pure
Catalyst expressions (whole-stage codegen — a 100 TB pass is IO-bound), and
``dedup_by_canonical_url`` keeps one row per canonical URL.

Normalization choices (documented, deliberately conservative):

- scheme and host are case-folded (RFC 3986 §6.2.2.1); path/query case is
  preserved (significant on most origins), and so is userinfo
  (``user:pass@`` is case-sensitive);
- explicit default ports (``:80`` for http, ``:443`` for https) drop;
- the fragment drops (never sent to the server);
- tracking parameters (``utm_*``, ``fbclid``, ``gclid``, ``msclkid``) drop,
  other parameters keep their ORDER (reordering can change semantics for
  duplicate keys, so we do not sort);
- a trailing ``/`` on a non-root path drops;
- anything unparseable passes through unchanged (a data-cleaning operator
  must not throw mid-scan).

Scale design: ``dedup_by_canonical_url`` is ONE shuffle keyed by the
canonical URL string (fine-grained — no skew concentration; a mega-domain
spreads across its pages), with a window ``row_number`` keeping the newest
``warc_ts`` (ties broken on the raw url for determinism).  No collect, no
Python.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window, functions as F

_TRACKING_PARAM_RE = r"(?i)(utm_[a-z0-9]+|fbclid|gclid|msclkid)=[^&#]*"


class TempColumnCollisionError(ValueError):
    """A caller column has a name a staged helper uses for its temporary
    columns; the helper would overwrite it and then drop it."""


def _check_temp_columns(df: DataFrame, prefixes: tuple = (), names: tuple = ()) -> None:
    """Raise :class:`TempColumnCollisionError` naming every column of ``df``
    that starts with one of ``prefixes`` or equals one of ``names`` (Spark
    resolves column names case-insensitively by default)."""
    clashes = [
        c for c in df.columns
        if c.lower().startswith(prefixes) or c.lower() in names
    ]
    if clashes:
        raise TempColumnCollisionError(
            "columns %s clash with temporary columns (%s); rename them first"
            % (", ".join(clashes), ", ".join([p + "*" for p in prefixes] + list(names)))
        )


def canonical_url(url: Column) -> Column:
    """Canonical form of a URL column — pure Catalyst expression chain."""
    # 1. drop the fragment
    u = F.regexp_replace(url, r"#.*$", "")
    # 2. case-fold scheme and host — but NOT userinfo (RFC 3986: user:pass
    # is case-sensitive; host and scheme are not).  The authority splits as
    # scheme://[userinfo@]hostport.
    auth_re = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://(?:([^/?#]*)@)?([^/?#@]*)"
    scheme = F.regexp_extract(u, auth_re, 1)
    userinfo = F.regexp_extract(u, auth_re, 2)
    hostport = F.regexp_extract(u, auth_re, 3)
    head_len = (
        F.length(scheme)
        + F.lit(3)
        + F.when(userinfo == "", F.lit(0)).otherwise(F.length(userinfo) + 1)
        + F.length(hostport)
    )
    tail = F.substring(u, head_len + F.lit(1), F.length(u))
    folded = F.concat(
        F.lower(scheme),
        F.lit("://"),
        F.when(userinfo == "", F.lit("")).otherwise(F.concat(userinfo, F.lit("@"))),
        F.lower(hostport),
        tail,
    )
    u = F.when(scheme == "", u).otherwise(folded)
    # 3. drop explicit default ports
    u = F.regexp_replace(u, r"^(http://[^/:?#]*):80(?=[/?#]|$)", r"$1")
    u = F.regexp_replace(u, r"^(https://[^/:?#]*):443(?=[/?#]|$)", r"$1")
    # 4. drop tracking parameters — applied to the query string ONLY.  A
    # literal '&' is legal in a path (RFC 3986 pchar), so the params must be
    # anchored past the first '?': split there, scrub, rejoin.  Each match is
    # a whole key=value at a param boundary ('^' or '&'); a leading '&' left
    # by a removed first param is stripped, and an emptied query drops its
    # '?' entirely.
    qpos = F.instr(u, "?")
    head = F.when(qpos == 0, u).otherwise(F.substring(u, F.lit(1), qpos - 1))
    qs = F.substring(u, qpos + 1, F.length(u))
    qs = F.regexp_replace(qs, r"(?:^|&)" + _TRACKING_PARAM_RE, "")
    qs = F.regexp_replace(qs, r"^&", "")
    u = F.when(
        (qpos == 0) | (qs == ""), head
    ).otherwise(F.concat(head, F.lit("?"), qs))
    # 5. drop a trailing slash on a non-root path
    u = F.regexp_replace(u, r"^([a-z][a-z0-9+.-]*://[^/?#]+(?:/[^?#]*[^/?#]))/(\?[^#]*)?$", r"$1$2")
    return u


def with_canonical_url(
    df: DataFrame, url_col: str = "url", out_col: str = "canonical_url"
) -> DataFrame:
    return df.withColumn(out_col, canonical_url(F.col(url_col)))


def _with_staged_canonical(
    df: DataFrame, src: Column, out_col: str, tmp_prefix: str
) -> tuple:
    """Append ``out_col`` = ``canonical_url(src)`` computed through staged
    intermediate COLUMNS — value-identical to :func:`canonical_url` (same
    functions, same dataflow), but each normalization step references the
    previous step as an attribute instead of re-embedding its whole
    expression tree.  The nested Column form duplicates every upstream
    step at every reference (the case-fold step alone reads its input six
    times), which grows the tree combinatorially: the canonical_hint dedup
    key compiled past Janino's 64 KB method limit (whole-stage codegen
    fell back to interpreted execution, where the duplicated subtrees are
    re-evaluated per reference) and inflated driver-side analysis.  The
    staged graph is linear; CollapseProject keeps multiply-referenced
    non-cheap steps staged and only inlines single-reference ones, which
    cannot duplicate work.  Returns ``(df, temp_col_names)`` — the caller
    drops the temps.  Raises :class:`TempColumnCollisionError` when ``df``
    already has a column named ``<tmp_prefix>_*``."""
    _check_temp_columns(df, (tmp_prefix.lower() + "_",))
    names = []

    def add(name: str, expr: Column) -> Column:
        nonlocal df
        col = "%s_%s" % (tmp_prefix, name)
        df = df.withColumn(col, expr)
        names.append(col)
        return F.col(col)

    # 1. drop the fragment
    u1 = add("u1", F.regexp_replace(src, r"#.*$", ""))
    # 2. case-fold scheme and host (not userinfo)
    auth_re = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://(?:([^/?#]*)@)?([^/?#@]*)"
    scheme = add("sch", F.regexp_extract(u1, auth_re, 1))
    userinfo = add("ui", F.regexp_extract(u1, auth_re, 2))
    hostport = add("hp", F.regexp_extract(u1, auth_re, 3))
    head_len = (
        F.length(scheme)
        + F.lit(3)
        + F.when(userinfo == "", F.lit(0)).otherwise(F.length(userinfo) + 1)
        + F.length(hostport)
    )
    tail = F.substring(u1, head_len + F.lit(1), F.length(u1))
    folded = F.concat(
        F.lower(scheme),
        F.lit("://"),
        F.when(userinfo == "", F.lit("")).otherwise(F.concat(userinfo, F.lit("@"))),
        F.lower(hostport),
        tail,
    )
    u2 = add("u2", F.when(scheme == "", u1).otherwise(folded))
    # 3. drop explicit default ports
    u3 = add(
        "u3",
        F.regexp_replace(
            F.regexp_replace(u2, r"^(http://[^/:?#]*):80(?=[/?#]|$)", r"$1"),
            r"^(https://[^/:?#]*):443(?=[/?#]|$)",
            r"$1",
        ),
    )
    # 4. drop tracking parameters from the query string only
    qpos = add("qp", F.instr(u3, "?"))
    head = F.when(qpos == 0, u3).otherwise(F.substring(u3, F.lit(1), qpos - 1))
    qs = add(
        "qs",
        F.regexp_replace(
            F.regexp_replace(
                F.substring(u3, qpos + 1, F.length(u3)),
                r"(?:^|&)" + _TRACKING_PARAM_RE,
                "",
            ),
            r"^&",
            "",
        ),
    )
    u4 = add("u4", F.when((qpos == 0) | (qs == ""), head).otherwise(F.concat(head, F.lit("?"), qs)))
    # 5. drop a trailing slash on a non-root path
    df = df.withColumn(
        out_col,
        F.regexp_replace(
            u4, r"^([a-z][a-z0-9+.-]*://[^/?#]+(?:/[^?#]*[^/?#]))/(\?[^#]*)?$", r"$1$2"
        ),
    )
    return df, names


def _with_staged_dedup_key(
    df: DataFrame, url_col: str, html_col: Optional[str], out_col: str
) -> tuple:
    """Append the dedup key of :func:`canonical_dedup_key` (html hint
    mode) or :func:`canonical_url` (url mode) as ``out_col`` via the
    staged column graph.  Returns ``(df, temp_col_names)``.

    In hint mode every row pays both regex chains: the url's canonical form
    is a staged column, computed even where the hint wins the ``coalesce``.
    Raises :class:`TempColumnCollisionError` before adding any column when
    ``df`` has a column named ``_cku_*`` (and, in hint mode, ``_ck_*`` or
    ``_ckh_*``)."""
    temps = []
    if html_col is not None:
        from .htmlmeta import canonical_hint

        _check_temp_columns(df, ("_ck_", "_ckh_", "_cku_"))
        df = df.withColumn("_ck_rawhint", canonical_hint(F.col(html_col)))
        temps.append("_ck_rawhint")
        df, c = _with_staged_canonical(df, F.col("_ck_rawhint"), "_ck_hintc", "_ckh")
        temps += c + ["_ck_hintc"]
        df, c = _with_staged_canonical(df, F.col(url_col), "_ck_urlc", "_cku")
        temps += c + ["_ck_urlc"]
        df = df.withColumn(
            out_col,
            F.coalesce(F.nullif(F.col("_ck_hintc"), F.lit("")), F.col("_ck_urlc")),
        )
    else:
        df, c = _with_staged_canonical(df, F.col(url_col), out_col, "_cku")
        temps += c
    return df, temps


def canonical_dedup_key(url: Column, html: Column) -> Column:
    """The page-declared dedup key: the canonicalized
    ``<link rel=canonical>`` hint when the page declares one, else the
    canonicalized URL — the composition documented in ``htmlmeta`` that
    folds AMP/mobile/session variants the URL normalizer alone cannot
    see (the variants live on DIFFERENT URLs but declare the SAME
    canonical).  The hint itself runs through :func:`canonical_url`
    (declared canonicals carry tracking params and case-variant hosts
    just like crawled URLs); an unparseable hint passes through
    unchanged, matching the normalizer's never-throw contract.  Still a
    pure Catalyst expression — zero Python, fuses into the scan."""
    from .htmlmeta import canonical_hint

    return F.coalesce(
        F.nullif(canonical_url(canonical_hint(html)), F.lit("")),
        canonical_url(url),
    )


def dedup_by_canonical_url(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    keep: str = "latest",
    key: Optional[Column] = None,
    html_col: Optional[str] = None,
) -> DataFrame:
    """One row per canonical URL — the CC recrawl/variant dedup.

    ``keep='latest'`` keeps the newest ``warc_ts`` (recrawl wins),
    ``'earliest'`` the oldest; ties break on the raw url (deterministic).
    One shuffle, keyed by the canonical string; the window carries the
    full row only within its own key group.  ``html_col`` switches the
    grouping key to the page-declared canonical (the
    :func:`canonical_dedup_key` composition), built through the staged
    column graph; ``key`` overrides the grouping expression entirely
    (an opaque caller Column — no staging).  A caller column named like
    a temporary column raises :class:`TempColumnCollisionError`.
    """
    if keep not in ("latest", "earliest"):
        raise ValueError("keep must be latest/earliest, got %r" % keep)
    if key is not None and html_col is not None:
        raise ValueError("pass either key or html_col, not both")
    _check_temp_columns(df, names=("_canon_key", "_rn"))
    ts = F.col(ts_col).desc() if keep == "latest" else F.col(ts_col).asc()
    # Materialize the canonical key as a column BEFORE the window: a
    # window partitioned by the raw expression re-evaluates it per row in
    # the exchange hash, the sort-key codegen AND the frame comparison.
    # The key is built through STAGED intermediate columns
    # (_with_staged_dedup_key): the nested Column form re-embedded each
    # normalization step at every reference, and the resulting tree blew
    # Janino's 64 KB method limit (interpreted fallback) when fused into
    # one codegen region.  Values are unchanged (the key is
    # deterministic); the helper columns are dropped and column pruning
    # keeps them out of the exchange.
    # The explicit repartition satisfies the window's distribution with the
    # SAME single exchange (same key, same shuffle-partition count — no
    # second shuffle), but moves the rank-limit pushdown's map-side sort
    # from below the exchange (where it fused with the upstream projection
    # into one codegen region) to above it, where its child is just the
    # shuffle read.
    temps: list = []
    if key is not None:
        keyed = df.withColumn("_canon_key", key)
    else:
        keyed, temps = _with_staged_dedup_key(df, url_col, html_col, "_canon_key")
    w = Window.partitionBy(F.col("_canon_key")).orderBy(ts, F.col(url_col))
    return (
        keyed
        .repartition(F.col("_canon_key"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_canon_key", *temps)
    )


def snapshot_diff(
    old: "DataFrame",
    new: "DataFrame",
    key_col: str = "url",
    fingerprint_col: str = "fingerprint",
) -> "DataFrame":
    """Cross-crawl snapshot delta — the recrawl-planning primitive: given
    two crawl snapshots keyed by URL with a content fingerprint each,
    classify every URL as ``added`` (new only), ``removed`` (old only),
    ``changed`` (both, fingerprints differ) or ``same``.

    ONE full-outer sort-merge join on the bare key + a codegen CASE —
    the join payload is (key, fingerprint) pairs only, never page
    bodies; at 100 TB both sides pre-bucket by url hash (the flagship's
    Iceberg layout), which turns the join co-partitioned.  Null-safe on
    the fingerprints (a NULL fingerprint on both sides compares equal —
    a missing digest is not a phantom change)."""
    o = old.select(
        F.col(key_col).alias("_k"),
        F.col(fingerprint_col).alias("old_fingerprint"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        F.col(key_col).alias("_k"),
        F.col(fingerprint_col).alias("new_fingerprint"),
        F.lit(True).alias("_in_new"),
    )
    joined = o.join(n, "_k", "full_outer")
    # presence flags, not fingerprint nullness: a present row with a
    # missing digest must not read as added/removed
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(
            F.col("old_fingerprint").eqNullSafe(F.col("new_fingerprint")),
            F.lit("same"),
        )
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        F.col("_k").alias(key_col),
        "old_fingerprint",
        "new_fingerprint",
        status.alias("status"),
    )
