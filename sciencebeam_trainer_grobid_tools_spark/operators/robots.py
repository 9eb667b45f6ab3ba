"""robots.txt parsing + Robots Exclusion Protocol policy evaluation
(RFC 9309) — the crawl-policy component next to
``linkgraph.extract_outlinks(skip_nofollow=)``: a compliant corpus
pipeline drops URLs a host's robots.txt disallows for its crawler.

Two operators:

- :func:`parse_robots` — robots.txt text -> (host, seq, allow, prefix)
  rule rows for one user-agent.  Group selection is ORDER-DEPENDENT
  per-file state (User-agent lines open groups; the most specific
  matching group wins, RFC 9309 §2.2.1), so parsing is the honest
  one-Arrow-stage case — same class as the TEI/DOM parsers.  The
  ``prefix`` column carries the rule pattern AS WRITTEN, including RFC
  9309 §2.2.3 special characters: ``*`` (matches any character
  sequence) and a trailing ``$`` (anchors at end of path).
- :func:`robots_blocked` — URL table x rule table -> blocked flag under
  RFC 9309 matching: the most specific matching rule wins, specificity
  = LENGTH OF THE RULE PATTERN as written (the google/robotstxt
  reference matcher's convention for "most octets", §2.2.2 — we count
  characters, identical on ASCII rules; a matched-span metric would
  instead let a bare ``Disallow: /*`` dominate every longer Allow,
  which no deployed matcher does), allow wins length ties, no match
  means allowed.  Plain prefix rules match via ``startswith``
  (codegen-cheap, the overwhelming majority in the wild); pattern
  rules compile to an anchored regex evaluated per rule — bounded by
  the host's rule count, never by corpus size.

Scale design (the 100 TB test): rules aggregate to ONE array row per
host (robots files are per-host and small — the rule table is
host-sized, not page-sized), ride an explicit ``broadcast()`` join, and
the longest-match fold compiles to a codegen ``aggregate`` over the
rule array — the URL corpus is never shuffled and never exploded, one
projection decides every URL.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame, functions as F

RULE_SCHEMA = "host string, seq int, allow boolean, prefix string"


def _parse_one(host: str, text: str, user_agent: str) -> list:
    """Honest sequential parse of one robots.txt: collect groups, pick
    the most specific matching group (exact UA match beats '*'), emit
    its prefix rules in file order."""
    groups = []  # (agents, rules)
    agents: list = []
    rules: list = []
    open_group = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if open_group:  # a rule line closed the agent run
                groups.append((agents, rules))
                agents, rules = [], []
                open_group = False
            agents.append(value.lower())
        elif key in ("allow", "disallow"):
            open_group = True
            if not value and key == "disallow":
                continue  # empty Disallow == allow all: no rule
            rules.append((key == "allow", value))
    if agents or rules:
        groups.append((agents, rules))
    ua = user_agent.lower()
    chosen = None
    for agent_list, rule_list in groups:
        if ua in agent_list:
            chosen = rule_list
            break
    if chosen is None:
        for agent_list, rule_list in groups:
            if "*" in agent_list:
                chosen = rule_list
                break
    if chosen is None:
        return []
    return [
        (host, seq, allow, prefix)
        for seq, (allow, prefix) in enumerate(chosen)
    ]


def parse_robots(
    df: DataFrame,
    host_col: str = "host",
    robots_col: str = "robots_txt",
    user_agent: str = "*",
) -> DataFrame:
    """(host, robots.txt) rows -> RULE_SCHEMA rows via the honest parser
    (ONE Arrow ``mapInPandas``, no shuffle; hosts with no applicable
    group emit no rows — absent rules mean allowed)."""
    import pandas as pd

    cols = ["host", "seq", "allow", "prefix"]

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for host, text in zip(pdf[host_col], pdf[robots_col]):
                rows.extend(_parse_one(host, text, user_agent))
            yield pd.DataFrame(rows, columns=cols)

    return df.select(host_col, robots_col).mapInPandas(run, RULE_SCHEMA)


def _url_path(url: Column) -> Column:
    """Path component ('/' when absent), query string included per RFC
    9309 (rules match against path + '?' + query).  The scheme/authority
    match is case-insensitive (``HTTP://host/Private`` must not fail
    open on path rules); the captured path itself is returned verbatim —
    path case is significant and preserved."""
    path = F.regexp_extract(url, r"(?i)^[a-z][a-z0-9+.-]*://[^/?#]+([^#]*)", 1)
    return F.when(path == "", F.lit("/")).otherwise(path)


def robots_blocked(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Adds ``robots_blocked`` to the URL table under RFC 9309 matching.

    Rules collapse to one ``array<struct>`` row per host (small — one
    robots.txt per host), broadcast-join the URL table on its parsed
    host, and a codegen ``aggregate`` fold picks the winning rule: the
    matching rule with the LONGEST PATTERN wins (see module docstring),
    allow beats disallow at equal length, no match (or no rules for the
    host) -> allowed.  ``*``/``$`` pattern rules (§2.2.3) compile to an
    anchored regex ONCE per rule row (JVM-side string expressions — the
    rule table is host-sized); plain prefix rules stay on the cheap
    ``startswith`` path.  The URL corpus is never shuffled or
    exploded."""
    from .urlfilter import url_host

    # compile §2.2.3 pattern rules to anchored Java regexes up front:
    # escape every metacharacter except '*', turn '*' into '.*', honor a
    # trailing '$' as an end anchor.  _rx stays NULL for plain prefixes.
    has_dollar = F.col("prefix").endswith("$")
    is_pattern = F.col("prefix").contains("*") | has_dollar
    body = F.when(
        has_dollar,
        F.expr("substring(prefix, 1, length(prefix) - 1)"),
    ).otherwise(F.col("prefix"))
    escaped = F.regexp_replace(body, r"([\\.^$+?()\[\]{}|-])", r"\\$1")
    rx = F.concat(
        F.lit("^"),
        F.replace(escaped, F.lit("*"), F.lit(".*")),
        F.when(has_dollar, F.lit("$")).otherwise(F.lit("")),
    )
    compiled = rules.select(
        "host",
        F.struct(
            F.col("allow").alias("allow"),
            F.col("prefix").alias("prefix"),
            F.length("prefix").alias("plen"),
            F.when(is_pattern, rx).alias("rx"),
        ).alias("_rule"),
    )
    # the rule table's join column rides under a private alias: a plain
    # drop("host") would also drop a caller-supplied 'host' column from
    # the URL table (drop-by-name removes EVERY column with that name)
    per_host = compiled.groupBy("host").agg(
        F.collect_list("_rule").alias("_rules")
    ).withColumnRenamed("host", "_r_host")
    joined = urls.withColumn("_host", url_host(F.col(url_col))).join(
        F.broadcast(per_host), F.col("_host") == F.col("_r_host"), "left"
    ).drop("_r_host")
    path = _url_path(F.col(url_col))
    # fold: acc = (best pattern length, best is-allow); start below any
    # real match so "no match" stays (-1, true) = allowed
    zero = F.struct(
        F.lit(-1).alias("len"), F.lit(True).alias("allow")
    )

    def step(acc: Column, rule: Column) -> Column:
        matches = F.when(
            rule["rx"].isNull(), path.startswith(rule["prefix"])
        ).otherwise(F.rlike(path, rule["rx"]))
        plen = rule["plen"]
        better = matches & (
            (plen > acc["len"])
            | ((plen == acc["len"]) & rule["allow"] & ~acc["allow"])
        )
        return F.when(
            better,
            F.struct(plen.alias("len"), rule["allow"].alias("allow")),
        ).otherwise(acc)

    verdict = F.aggregate(
        F.coalesce(F.col("_rules"), F.array()), zero, step
    )
    return joined.withColumn(
        "robots_blocked", ~verdict["allow"]
    ).drop("_host", "_rules")
