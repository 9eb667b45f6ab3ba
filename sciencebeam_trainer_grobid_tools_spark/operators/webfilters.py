"""Web-corpus heuristic filters: Gopher quality rules, C4 cleaning, and a
hashed linear quality classifier.

The three document-quality families every published web-scale pretraining
pipeline composes after dedup:

- Gopher quality rules (:func:`gopher_filter`) — the
  repetition-independent subset of the Gopher rules (Rae et al. 2021,
  "Scaling Language Models", App. A): word-count band, mean-word-length
  band, symbol-to-word ratio, bullet / ellipsis line ratios,
  alphabetic-word ratio, required-stopword count.  (The Gopher
  REPETITION rules live in ``dedup.repetition_features``.)
- C4 cleaning (:func:`c4_filter`; Raffel et al. 2020, §2.2): keep only
  lines that end in terminal punctuation, have >= 5 words and do not
  mention "javascript"; drop pages with < 3 sentences, a "{", or "lorem
  ipsum".  (C4's bad-word page filter needs an external word list and is
  intentionally not bundled; compose it as one extra line/page
  predicate.)
- :func:`hashed_classifier_score` — fastText-shaped linear classifier
  inference (Joulin et al. 2016; the CCNet/LLaMA quality-classifier
  stage): hashing-trick bag-of-words, bucket weights, sigmoid.

Scale design (the 100 TB test): Gopher and C4 are PURE PER-ROW Catalyst
projections — zero shuffles, zero Python, they ride whatever scan
partitioning the corpus already has and fuse into one whole-stage-codegen
span with any surrounding pipeline stage.  The classifier adds exactly ONE
shuffle (the per-document aggregation of token weights); in derived-weight
mode the weight is a codegen hash expression so nothing joins at all, and
in trained-weight mode the bucket table is broadcast (it is at most
``num_buckets`` rows by construction).

Everything is md5-based where a hash is needed so a SQL oracle reproduces
exact values (the production pipelines would swap xxhash64 in one line;
``dedup.py`` documents that trade for MinHash).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F

from ..memo import IdentityMemo

# the Gopher "must contain at least 2 of" stopword list (Rae et al. 2021)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# terminal punctuation accepted by the C4 line rule (Raffel et al. 2020)
C4_TERMINAL_PUNCT = (".", "!", "?", '"', "”")


def _words(text: Column) -> Column:
    """Lowered whitespace tokens, empty strings dropped — the corpus-wide
    tokenization convention (matches textstats/dedup and their oracles)."""
    return F.filter(
        F.split(F.lower(F.replace(text, F.lit("\n"), F.lit(" "))), " "),
        lambda t: t != "",
    )


def _gopher_stat_columns(text_col: Column) -> "dict[str, Column]":
    """The Gopher rule statistics as named column expressions (ratios
    rounded to 6 places, the repo's oracle-comparison convention).
    Shared by the feature projection and the in-place pipeline filter so
    both threshold the SAME rounded values.  A document with no words
    never divides by zero — denominators are clamped to 1."""
    words = _words(text_col)
    lines = F.filter(
        F.transform(F.split(text_col, "\n"), F.trim),
        lambda t: t != "",
    )
    n_words = F.size(words)
    n_lines = F.greatest(F.size(lines), F.lit(1))
    dn = F.greatest(n_words, F.lit(1)).cast("double")
    mean_word_len = (
        F.aggregate(
            words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).cast("double")
        / dn
    )
    symbol_ratio = (
        F.size(F.regexp_extract_all(text_col, F.lit(r"#|\.\.\."), 0))
        .cast("double")
        / dn
    )
    bullet_ratio = (
        F.size(
            F.filter(
                lines,
                lambda t: t.startswith("-")
                | t.startswith("*")
                | t.startswith("•"),
            )
        ).cast("double")
        / n_lines
    )
    ellipsis_ratio = (
        F.size(
            F.filter(
                lines,
                lambda t: t.endswith("...") | t.endswith("…"),
            )
        ).cast("double")
        / n_lines
    )
    alpha_ratio = (
        F.size(F.filter(words, lambda w: w.rlike("[a-z]"))).cast("double") / dn
    )
    stopword_hits = sum(
        F.array_contains(words, sw).cast("int") for sw in GOPHER_STOPWORDS
    )
    return {
        "g_words": n_words,
        "g_mean_word_len": F.round(mean_word_len, 6),
        "g_symbol_ratio": F.round(symbol_ratio, 6),
        "g_bullet_ratio": F.round(bullet_ratio, 6),
        "g_ellipsis_ratio": F.round(ellipsis_ratio, 6),
        "g_alpha_ratio": F.round(alpha_ratio, 6),
        "g_stopword_hits": stopword_hits,
    }


def _gopher_keep_expr(
    stats: "dict[str, Column]",
    min_words: int,
    max_words: int,
    min_mean_word_len: float,
    max_mean_word_len: float,
    max_symbol_ratio: float,
    max_bullet_ratio: float,
    max_ellipsis_ratio: float,
    min_alpha_ratio: float,
    min_stopword_hits: int,
) -> Column:
    return (
        (stats["g_words"] >= min_words)
        & (stats["g_words"] <= max_words)
        & (stats["g_mean_word_len"] >= min_mean_word_len)
        & (stats["g_mean_word_len"] <= max_mean_word_len)
        & (stats["g_symbol_ratio"] <= max_symbol_ratio)
        & (stats["g_bullet_ratio"] <= max_bullet_ratio)
        & (stats["g_ellipsis_ratio"] <= max_ellipsis_ratio)
        & (stats["g_alpha_ratio"] >= min_alpha_ratio)
        & (stats["g_stopword_hits"] >= min_stopword_hits)
    )


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher rules as an IN-PLACE row filter for pipeline composition:
    keeps every column, adds none, and stays a pure codegen predicate —
    zero shuffles, fuses into the surrounding stage.  Thresholds the
    exact rounded ``g_*`` statistics :func:`web_filter_features` emits."""
    return df.filter(
        _gopher_keep_expr(
            _gopher_stat_columns(F.col(text_col)),
            min_words,
            max_words,
            min_mean_word_len,
            max_mean_word_len,
            max_symbol_ratio,
            max_bullet_ratio,
            max_ellipsis_ratio,
            min_alpha_ratio,
            min_stopword_hits,
        )
    )


def _c4_parts(text_col: Column, min_line_words: int):
    """The C4 rule building blocks (kept lines, cleaned text, sentence
    count, page flags) as column expressions shared by the feature
    projection and the in-place pipeline filter."""

    def _line_ok(line: Column) -> Column:
        t = F.trim(line)
        ends = F.lit(False)
        for p in C4_TERMINAL_PUNCT:
            ends = ends | t.endswith(p)
        enough_words = (
            F.size(F.filter(F.split(t, " "), lambda w: w != ""))
            >= min_line_words
        )
        return ends & enough_words & ~F.contains(F.lower(t), F.lit("javascript"))

    kept = F.filter(F.split(text_col, "\n"), _line_ok)
    clean = F.array_join(kept, "\n")
    n_sentences = F.size(F.regexp_extract_all(clean, F.lit(r"[.!?]"), 0))
    has_brace = F.contains(text_col, F.lit("{"))
    has_lorem = F.contains(F.lower(text_col), F.lit("lorem ipsum"))
    return kept, clean, n_sentences, has_brace, has_lorem


def c4_filter(
    df: DataFrame,
    text_col: str = "text",
    min_line_words: int = 5,
    min_sentences: int = 3,
    replace_text: bool = True,
) -> DataFrame:
    """C4 cleaning as an IN-PLACE pipeline stage: drops pages failing the
    page rules and (by default) rewrites ``text_col`` to the kept lines —
    the C4 semantics, where the cleaned page IS what flows downstream.
    Pure codegen predicate + projection, zero shuffles; every other
    column passes through untouched.  ``replace_text=False`` keeps the
    original text (filter-only composition)."""
    _, clean, n_sentences, has_brace, has_lorem = _c4_parts(
        F.col(text_col), min_line_words
    )
    out = df.filter((n_sentences >= min_sentences) & ~has_brace & ~has_lorem)
    if replace_text:
        # recomputed on the surviving rows from the SAME original column
        # (the filter has not rewritten it), so this fuses into one span
        _, clean2, _, _, _ = _c4_parts(F.col(text_col), min_line_words)
        out = out.withColumn(text_col, clean2)
    return out


# Column-plan memo for the derived-weight projection: the ~60 expression
# trees below are a pure function of the parameters (no data, no session
# state), but building them crosses py4j ~2,000 times (~0.4 s of driver
# time per call — measured with cProfile; the repeated-bench protocol pays
# it on every timed iteration).  Column objects wrap immutable unresolved
# expressions and are safely reusable across .select() calls — this
# projection already uses the same stat Columns twice in one plan (the
# emitted stats and the inline g_keep).  Owned by the py4j gateway so a
# fresh driver JVM can never see a stale JavaObject.
_FEATURE_COLS_CACHE = IdentityMemo(16)


def _derived_feature_columns(
    id_col: str, text_col: str, num_buckets: int, threshold: float
) -> list:
    from pyspark import SparkContext

    return _FEATURE_COLS_CACHE.get(
        SparkContext._gateway,
        (id_col, text_col, num_buckets, threshold),
        lambda: _build_feature_columns(id_col, text_col, num_buckets, threshold),
    )


def _build_feature_columns(
    id_col: str, text_col: str, num_buckets: int, threshold: float
) -> list:
    stats = _gopher_stat_columns(F.col(text_col))
    kept, clean, n_sentences, has_brace, has_lorem = _c4_parts(
        F.col(text_col), min_line_words=5
    )
    clf_cols = inline_classifier_columns(
        F.col(text_col), num_buckets=num_buckets, threshold=threshold
    )
    return [
        F.col(id_col).alias("doc_id"),
        *(expr.alias(name) for name, expr in stats.items()),
        F.size(F.split(F.col(text_col), "\n")).alias("c4_total_lines"),
        F.size(kept).alias("c4_kept_lines"),
        n_sentences.cast("int").alias("c4_sentences"),
        has_brace.alias("c4_has_brace"),
        has_lorem.alias("c4_has_lorem"),
        ((n_sentences >= 3) & ~has_brace & ~has_lorem).alias("c4_keep"),
        clean.alias("clean_text"),
        _gopher_keep_expr(
            stats, 50, 100_000, 3.0, 10.0, 0.1, 0.9, 0.3, 0.8, 2
        ).alias("g_keep"),
        *(expr.alias(name) for name, expr in clf_cols.items()),
    ]


def web_filter_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    classifier: bool = True,
    num_buckets: int = 64,
    threshold: float = 0.5,
    weights: Optional[DataFrame] = None,
) -> DataFrame:
    """All three filter families' signals per document in the MINIMAL
    plan: the Gopher statistics and the C4 line/page columns are computed
    in ONE projection over one scan (they are both per-row — joining two
    separate projections of the same table, as a naive composition would,
    buys two needless shuffles), and the classifier — the only family
    that genuinely aggregates — is LEFT-joined on top (absent row =
    zero-token document).  ``classifier=False`` drops that join too,
    leaving a completely shuffle-free plan.

    Columns: ``doc_id``, the ``g_*`` statistics + ``g_keep`` (published
    Gopher thresholds), the ``c4_*`` counts/flags + ``c4_keep`` +
    ``clean_text``, and (with ``classifier=True``) ``clf_tokens`` /
    ``clf_score`` / ``clf_keep``."""
    if classifier and weights is None:
        # derived-weight classifier: the weights are plan-time constants, so
        # the whole query is ONE per-row projection over ONE scan — no
        # explode, no aggregation shuffle, no join (guide §2.4).  NULL clf
        # columns for zero-token documents replicate the LEFT-join absence.
        # g_keep thresholds the same rounded stat expressions inline (the
        # gopher_filter pattern), preserving the exact output column order
        # of the join form.  The column list is memoized
        # (:func:`_derived_feature_columns`) — pure expression trees, no
        # data or results.
        return df.select(
            *_derived_feature_columns(id_col, text_col, num_buckets, threshold)
        )
    stats = _gopher_stat_columns(F.col(text_col))
    kept, clean, n_sentences, has_brace, has_lorem = _c4_parts(
        F.col(text_col), min_line_words=5
    )
    emitted = {name: F.col(name) for name in stats}
    out = df.select(
        F.col(id_col).alias("doc_id"),
        *(expr.alias(name) for name, expr in stats.items()),
        F.size(F.split(F.col(text_col), "\n")).alias("c4_total_lines"),
        F.size(kept).alias("c4_kept_lines"),
        n_sentences.cast("int").alias("c4_sentences"),
        has_brace.alias("c4_has_brace"),
        has_lorem.alias("c4_has_lorem"),
        ((n_sentences >= 3) & ~has_brace & ~has_lorem).alias("c4_keep"),
        clean.alias("clean_text"),
    ).withColumn(
        "g_keep",
        _gopher_keep_expr(
            emitted, 50, 100_000, 3.0, 10.0, 0.1, 0.9, 0.3, 0.8, 2
        ),
    )
    if not classifier:
        return out
    clf = hashed_classifier_score(
        df,
        id_col=id_col,
        text_col=text_col,
        num_buckets=num_buckets,
        threshold=threshold,
        weights=weights,
    )
    return out.join(clf, "doc_id", "left")


def _bucket(tok: Column, num_buckets: int) -> Column:
    """Hashing-trick bucket: first 8 md5 hex chars mod B (portable — the
    SQL oracle reproduces it; production would swap xxhash64)."""
    return (
        F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")
        % F.lit(num_buckets)
    )


def derived_bucket_weights_list(num_buckets: int) -> "list[float]":
    """The :func:`derived_bucket_weight` values for buckets 0..num_buckets-1
    computed driver-side: the derivation is a pure function of the bucket id
    (md5 of 'w<bucket>', first 8 hex chars, uniform draw minus 0.5), so the
    whole table is a plan-time constant.  Both sides are IEEE doubles from
    the same integer / 16^8 - 0.5 arithmetic, so the values are bit-identical
    to the SQL derivation."""
    import hashlib

    return [
        int(hashlib.md5(("w%d" % b).encode("utf-8")).hexdigest()[:8], 16)
        / float(16 ** 8)
        - 0.5
        for b in range(num_buckets)
    ]


def inline_classifier_columns(
    text_col: Column,
    num_buckets: int = 64,
    bias: float = 0.0,
    threshold: float = 0.5,
) -> "dict[str, Column]":
    """The hashed-classifier outputs as PER-ROW column expressions — zero
    shuffles, zero joins (guide §2.4: remove the exchange outright).

    The derived bucket weights are plan-time constants
    (:func:`derived_bucket_weights_list`), so the per-document mean weight
    is an in-row array fold: one md5 per token (the bucket hash — the
    explode form paid a second md5 per token for the weight) plus a
    64-element literal-array lookup.  Values are identical to the explode +
    aggregate + join form (verified element-wise at sf1.0); the only
    difference is the float-addition order of the token-weight sum, which
    is immaterial at the 6-decimal rounding both the operator and its
    oracle apply.  Zero-token documents get NULL in all three columns —
    exactly the LEFT-join absence of the aggregating form."""
    weights = F.array(
        *[F.lit(w) for w in derived_bucket_weights_list(num_buckets)]
    )
    words = _words(text_col)
    n = F.size(words)
    wsum = F.aggregate(
        words,
        F.lit(0.0),
        lambda acc, t: acc
        + F.element_at(weights, (_bucket(t, num_buckets) + 1).cast("int")),
    )
    raw = F.lit(bias) + wsum / n
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-raw))
    nonempty = n > 0
    return {
        "clf_tokens": F.when(nonempty, n.cast("long")),
        "clf_score": F.when(nonempty, F.round(score, 6)),
        "clf_keep": F.when(nonempty, score >= F.lit(threshold)),
    }


def derived_bucket_weight(bucket: Column) -> Column:
    """Deterministic pseudo-weight in [-0.5, 0.5) per bucket, derived from
    the bucket id by the same md5-uniform draw the samplers use.  This is
    the ORACLE-CHECKABLE stand-in for trained weights: it exercises the
    full inference plumbing (hashing, weighting, aggregation, sigmoid)
    with values any SQL engine reproduces; swap in a trained table via
    ``hashed_classifier_score(weights=...)`` without touching the plan
    shape."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("w"), bucket.cast("string"))), 1, 8),
            16,
            10,
        ).cast("double")
        / F.lit(float(16 ** 8))
        - F.lit(0.5)
    )


def hashed_classifier_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 64,
    bias: float = 0.0,
    threshold: float = 0.5,
    weights: Optional[DataFrame] = None,
) -> DataFrame:
    """fastText-shaped linear classifier inference over hashed bag-of-words
    (Joulin et al. 2016): ``score = sigmoid(bias + mean_token weight)``.

    ``weights``: optional trained (``bucket`` int, ``weight`` double)
    table — at most ``num_buckets`` rows by construction, so it is
    explicitly ``broadcast()``; omitted, the md5-derived pseudo-weights
    (:func:`derived_bucket_weight`) make the whole computation one
    codegen expression with NO join.  Either way the plan has exactly one
    shuffle: the per-document mean.  Documents with zero tokens produce
    no exploded rows and are absent from the result (compose a left join
    + default if every row must survive).

    Output: ``doc_id``, ``clf_tokens``, ``clf_score`` (rounded 6),
    ``clf_keep`` (score >= ``threshold``).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_words(F.col(text_col))).alias("_tok"),
    ).withColumn("_bucket", _bucket(F.col("_tok"), num_buckets))
    if weights is not None:
        toks = toks.join(
            F.broadcast(
                weights.select(
                    F.col("bucket").alias("_bucket"),
                    F.col("weight").alias("_w"),
                )
            ),
            "_bucket",
            "left",
        ).withColumn("_w", F.coalesce(F.col("_w"), F.lit(0.0)))
    else:
        toks = toks.withColumn("_w", derived_bucket_weight(F.col("_bucket")))
    raw = F.lit(bias) + F.sum("_w") / F.count(F.lit(1))
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("clf_tokens"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-raw)), 6).alias("clf_score"),
        (
            F.lit(1.0) / (F.lit(1.0) + F.exp(-raw)) >= F.lit(threshold)
        ).alias("clf_keep"),
    )
