"""End-to-end corpus curation: the composed pipeline a real 100 TB
training-data run would execute, chaining the individually-verified
operators into ONE lazy DataFrame plan:

    domain blocklist             ->  robots.txt compliance
      ->  canonical-URL recrawl dedup
      ->  boilerplate line removal  ->  C4 cleaning  ->  PII scrub
      ->  quality filter         ->  Gopher rules  ->  repetition filter
      ->  hashed classifier      ->  per-stratum token-budget sample

Nothing materializes between stages — the stages fuse into the minimal
set of shuffles their semantics require (the dedup window, the two
repetition aggregations + a doc-keyed semi join, and the sampling
totals).  The composed plan is what proves the operators COMPOSE: every
stage consumes the previous stage's columns lazily, Catalyst prunes and
pushes across the whole chain, and the oracle query replays all five
stages in SQL.

Scale notes (per stage, see each operator's own docstring for depth):

- dedup: ONE shuffle keyed by the fine-grained canonical string;
- scrub + quality: pure codegen, zero shuffles, fused into whatever
  stage reads the rows next;
- repetition: two partial-aggregated shuffles on (doc_id, gram) /
  doc_id, then a LEFT SEMI join back on doc_id (id-only stream);
- sampling (rate mode): one totals shuffle + broadcast rate table +
  codegen filter — no window.  The totals aggregate re-reads the
  upstream pipeline (a statistic over the stream it samples); a
  production run over 100 TB would checkpoint the curated intermediate
  before this stage rather than recompute the chain twice — the plan
  keeps the seam explicit instead of hiding a cache inside.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from ..operators.dedup import repetition_features, with_common_lines_removed
from ..operators.pii import scrub_pii
from ..operators.robots import robots_blocked
from ..operators.textstats import quality_features, token_budget_sample
from ..operators.urlnorm import dedup_by_canonical_url
from ..operators.urlfilter import filter_blocked_domains
from ..operators.webfilters import (
    c4_filter,
    gopher_filter,
    hashed_classifier_score,
    inline_classifier_columns,
)

_QUALITY_COLS = ("q_chars", "q_tokens", "q_mean_word_len", "q_punct_ratio", "q_passed")


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: Optional[str] = None,
    ts_col: str = "warc_ts",
    keep: str = "latest",
    dedup_key: str = "url",
    html_col: Optional[str] = None,
    strata: Sequence[str] = ("lang",),
    budget_tokens: Optional[int] = None,
    max_dup_ngram_frac: Optional[float] = None,
    rep_k: int = 2,
    sample_mode: str = "rate",
    min_line_docs: Optional[int] = None,
    blocked_domains: Optional[Sequence[str]] = None,
    c4: Optional[Mapping[str, object]] = None,
    gopher: Optional[Mapping[str, object]] = None,
    clf_threshold: Optional[float] = None,
    clf_weights: Optional[DataFrame] = None,
    robots_rules: Optional[DataFrame] = None,
    persist_intermediate: bool = False,
) -> DataFrame:
    """The curated corpus: input rows that survive every enabled stage,
    with ``text_col`` scrubbed of PII.  Stages toggle off by omission
    (``blocked_domains=None`` skips the domain blocklist — the published
    pipelines' first cut, applied before any content work,
    ``url_col=None`` skips dedup — ``dedup_key='canonical_hint'`` with an
    ``html_col`` folds on the page-declared ``<link rel=canonical>``
    instead, collapsing AMP/mobile variants, ``min_line_docs=None`` skips
    boilerplate line removal, ``c4=None`` / ``gopher=None`` skip those
    rule families (pass ``{}`` for published defaults, keys override),
    ``max_dup_ngram_frac=None`` skips the repetition filter,
    ``robots_rules=None`` skips robots.txt compliance (pass a
    RULE_SCHEMA table — ``parse_robots`` output — to drop disallowed
    URLs right after the blocklist),
    ``clf_threshold=None`` skips the hashed classifier,
    ``budget_tokens=None`` skips sampling) so the same entry point serves
    partial pipelines; the quality filter and the scrub always run — they
    are the non-negotiable hygiene floor.  C4 and Gopher add ZERO
    shuffles (pure codegen predicates fused into the neighbouring
    stages); the classifier adds one aggregation + an id-only semi join.

    The repetition and sampling stages are STATISTICS over the stream
    they filter — each re-derives the upstream plan (dedup -> scrub ->
    quality), so the lazy default recomputes it up to 4x.  That is the
    honest trade at 100 TB: either pay the recompute (cheap codegen
    stages, IO-bound) or pass ``persist_intermediate=True`` to cache the
    post-quality intermediate so everything downstream reads it once —
    the caller owns the unpersist (a production run would checkpoint to
    storage here instead)."""
    out = df
    if blocked_domains is not None:
        # FIRST, before any content work: the blocklist is the cheapest
        # cut and published pipelines apply it before touching page bytes
        if url_col is None:
            raise ValueError(
                "curate_corpus(blocked_domains=...) requires url_col"
            )
        out = filter_blocked_domains(out, blocked_domains, url_col=url_col)
    if robots_rules is not None:
        # robots.txt compliance right after the blocklist — the other
        # URL-level cut published pipelines apply before content work: a
        # RULE_SCHEMA table (operators.robots.parse_robots output) rides
        # the broadcast fold; disallowed URLs drop, the flag column does
        # not leak downstream
        if url_col is None:
            raise ValueError("curate_corpus(robots_rules=...) requires url_col")
        out = (
            robots_blocked(out, robots_rules, url_col=url_col)
            .filter(~F.col("robots_blocked"))
            .drop("robots_blocked")
        )
    if url_col is not None:
        # dedup_key='canonical_hint' folds on the page-DECLARED canonical
        # (falling back to the normalized URL when the page declares none)
        # so AMP/mobile variants living on different URLs still collapse;
        # same single shuffle, just a richer codegen key expression
        if dedup_key == "canonical_hint":
            if html_col is None:
                raise ValueError(
                    "curate_corpus(dedup_key='canonical_hint') requires html_col"
                )
            hint_col: Optional[str] = html_col
        elif dedup_key == "url":
            hint_col = None
        else:
            raise ValueError(
                "dedup_key must be url/canonical_hint, got %r" % dedup_key
            )
        # html_col (instead of a prebuilt key Column) lets the dedup build
        # the page-declared canonical key through its staged column graph
        # — a linear expression tree (see urlnorm)
        out = dedup_by_canonical_url(
            out, url_col=url_col, ts_col=ts_col, keep=keep, html_col=hint_col
        )
    if min_line_docs is not None:
        # boilerplate line removal BEFORE scrubbing/quality: chrome lines
        # should not count toward (or against) the quality signals
        out = with_common_lines_removed(
            out, id_col=id_col, text_col=text_col, min_docs=min_line_docs
        )
    if c4 is not None:
        # C4 cleaning at the same line granularity as boilerplate removal,
        # BEFORE the scrub: the cleaned page is what flows downstream
        # (``{}`` enables the published defaults; keys override them)
        out = c4_filter(out, text_col=text_col, **dict(c4))
    out = out.withColumn(text_col, scrub_pii(F.col(text_col)))
    if persist_intermediate:
        # The cache point sits DIRECTLY after the text rewrite, before the
        # quality/gopher/classifier predicates: Catalyst's predicate
        # pushdown substitutes a filtered alias's full defining expression
        # into every pushed condition, so with the cache after those
        # filters the materialized child plan carried thousands of
        # duplicated regexp_replace copies (a 1.4 MB optimized plan whose
        # fused stages blew Janino's 64 KB method limit and ran
        # interpreted).  Caching the rewritten rows first keeps every
        # expression single-copy in the materialized plan — measured 44 s
        # -> 14 s for the full planted-corpus pipeline at sf0.1 — and the
        # downstream statistics branches (repetition, sampling) still
        # read the one cached intermediate.
        out = out.persist()
    out = (
        quality_features(out, text_col=text_col)
        .filter(F.col("q_passed"))
        .drop(*_QUALITY_COLS)
    )
    if gopher is not None:
        # Gopher rules on the scrubbed text — another pure codegen
        # predicate, fuses with the quality filter into one span
        out = gopher_filter(out, text_col=text_col, **dict(gopher))
    if max_dup_ngram_frac is not None:
        keep_ids = (
            repetition_features(
                out.select(F.col(id_col), F.col(text_col)),
                id_col=id_col,
                text_col=text_col,
                k=rep_k,
            )
            .filter(F.col("dup_ngram_frac") <= max_dup_ngram_frac)
            .select(F.col("doc_id").alias(id_col))
        )
        out = out.join(keep_ids, on=id_col, how="left_semi")
    if clf_threshold is not None:
        if clf_weights is None:
            # derived-weight classifier: plan-time-constant weights make the
            # score a pure per-row expression, so the stage is a codegen
            # FILTER — no aggregation shuffle, no semi-join (guide §2.4).
            # A zero-token document scores NULL and is dropped by the
            # filter, exactly the aggregating form's absent-row semantics.
            out = out.filter(
                inline_classifier_columns(
                    F.col(text_col), threshold=clf_threshold
                )["clf_keep"]
            )
        else:
            # trained weights arrive as a table: keep the aggregation
            # shuffle over (id, bucket) rows + id-only LEFT SEMI back —
            # placed after the cheap filters so it scores the fewest rows;
            # a zero-token document has no classifier row and is dropped
            # here by definition
            clf_keep = (
                hashed_classifier_score(
                    out.select(F.col(id_col), F.col(text_col)),
                    id_col=id_col,
                    text_col=text_col,
                    threshold=clf_threshold,
                    weights=clf_weights,
                )
                .filter(F.col("clf_keep"))
                .select(F.col("doc_id").alias(id_col))
            )
            out = out.join(clf_keep, on=id_col, how="left_semi")
    if budget_tokens is not None:
        out = token_budget_sample(
            out,
            budget_tokens,
            strata=strata,
            id_col=id_col,
            text_col=text_col,
            mode=sample_mode,
        )
    return out
