"""Deduplication operators for web-scale corpora.

All stages are Catalyst expressions (whole-stage codegen; no Python UDFs):

- minhash:   word-shingles -> per-seed minima -> LSH band buckets ->
             candidate pairs -> exact Jaccard verification, rendered from
             one SQL template for both hash families (xxhash64 for
             production, md5 for the DuckDB-checked gate).  The band
             self-join is keyed by (band, band_hash) — at 10^12 docs this
             is the textbook near-dup plan (band count and rows/band trade
             recall vs shuffle width);
- simhash:   per-token md5 bits, bitwise majority vote per document, in
             the DuckDB-reproducible bit-string form;
- n-gram Jaccard: exact similarity on candidate pairs.

Design note: a naive all-pairs similarity join is O(n^2) and unusable at
scale; every operator here reduces to equality-keyed shuffles.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F


def normalized_text(text: Column) -> Column:
    return F.lower(F.replace(text, F.lit("\n"), F.lit(" ")))


def word_shingles(text: Column, k: int = 5) -> Column:
    """Distinct k-word shingles of the normalized text (JVM-side arrays).

    String-building form — kept as the exact baseline (the
    ``docs_ngram_jaccard`` oracle compares these strings with DuckDB).  Its
    ``transform`` lambda is interpreted, so the MinHash pipeline
    (:func:`_minhash_pairs_sql`) builds the same shingles by exploding
    positions instead.
    """
    tokens = F.split(normalized_text(text), " ")
    n = F.size(tokens)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, k)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", tokens)))
    )


def shingle_hash_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """(id, text) -> one row per shingle position: (doc_id, g) where ``g`` is
    the multi-arg xxhash64 over the k tokens at that position.

    This is the codegen'd construction: explode a position sequence and hash
    token slots directly.  The array-HOF form (``transform(sequence(...))``)
    computes identical hashes but is INTERPRETED — measured 8.4s vs 0.2s for
    5,000 documents at sf0.1 — because Catalyst does not codegen lambda
    higher-order functions.  Duplicate positions are fine: minima ignore
    multiplicity and the shingle *set* is taken downstream."""
    tokens = F.split(normalized_text(F.col(text_col)), " ")
    toked = df.select(
        F.col(id_col).alias("doc_id"), tokens.alias("toks"), F.size(tokens).alias("n")
    )
    pos = toked.select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.sequence(F.lit(1), F.greatest(F.col("n") - (k - 1), F.lit(1)))).alias(
            "i"
        ),
    )
    g = F.when(
        F.col("n") >= k,
        F.xxhash64(*[F.element_at("toks", F.col("i") + j) for j in range(k)]),
    ).otherwise(F.xxhash64(F.concat_ws(" ", "toks")))
    return pos.select("doc_id", g.alias("g"))


def _minhash_pairs_sql(
    id_col: str,
    text_col: str,
    k: int,
    num_hashes: int,
    bands: int,
    family: str = "xxhash64",
) -> str:
    """The whole MinHash+LSH candidate-pair pipeline as ONE SQL string:
    tokenize -> positional k-word shingles -> one combined collect_set +
    per-seed-minima aggregate -> id-only band self-join -> exact-Jaccard
    verification.  A single driver call, and no higher-order array function
    (Catalyst interprets those rather than codegens them).

    Three expressions differ by hash ``family``; everything else is shared:

    - ``xxhash64`` (production): shingle ``g`` is the multi-arg xxhash64
      over the k token slots at a position, minima are ``xxhash64(g,
      seed)``, band keys ``xxhash64`` over the band's signature slots;
    - ``md5`` (oracle-portable): ``g`` is the shingle string itself, minima
      are the lexicographic ``md5(seed || ':' || g)`` hex, band keys
      ``md5`` of the band's minima joined by ',' — every value reproducible
      in DuckDB, and ``g`` is exactly a :func:`word_shingles` element.

    A document with fewer than k tokens is one shingle: its whole token
    string.  NULL text tokenizes like ``''`` (one empty shingle), so NULL
    and empty documents pair with each other at Jaccard 1.0.  Duplicate
    positions are fine: minima ignore multiplicity and ``collect_set``
    takes the shingle set.

    Pruning barrier: Catalyst duplicates the aggregate subtree into each
    of its three consumers and column-prunes each copy — the band copies
    would keep only the minima (HashAggregate) and the verification copies
    only collect_set (ObjectHashAggregate), so the corpus would be shingled
    and aggregated TWICE even though AQE reuses byte-identical exchanges.
    Each consumer references BOTH ``shingles`` and the whole ``sig``
    through value-preserving zero terms — ``least(0, size(shingles))`` and
    ``pmod(xxhash64(sig), 1)`` are always 0 but not constant-foldable — so
    all four exchange subtrees are canonically equal and AQE executes ONE
    shuffle stage + three ReusedExchange (plan-asserted in tests).  If a
    future optimizer folds them the plan degrades to the two-pass shape,
    values unchanged.  Band buckets carry only (doc_id, band, band_hash):
    the shingle arrays never enter the band shuffle."""
    rows_per_band = num_hashes // bands
    if family == "xxhash64":
        shingle = (
            "CASE WHEN n >= %d THEN xxhash64(%s)\n"
            "              ELSE xxhash64(concat_ws(' ', toks)) END"
            % (k, ", ".join("element_at(toks, i + %d)" % j for j in range(k)))
        )
        seed_min = "min(xxhash64(g, %d))"
        band_key = "xxhash64(%s)"
    else:  # md5
        # slice() stops at the array end, so a short document's one
        # position yields its whole token string — no CASE needed
        shingle = "concat_ws(' ', slice(toks, i, %d))" % k
        seed_min = "min(md5(concat_ws(':', '%d', g)))"
        band_key = "md5(concat_ws(',', %s))"
    mins = ", ".join(
        (seed_min + " AS h%d") % (s, s) for s in range(num_hashes)
    )
    sig_array = ", ".join("h%d" % s for s in range(num_hashes))
    band_structs = ", ".join(
        "struct(%d + least(0, size(shingles)) AS band, %s AS band_hash)"
        % (
            b,
            band_key
            % ", ".join(
                "element_at(sig, %d)" % (b * rows_per_band + r + 1)
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return """
WITH toked AS (
  SELECT `{id_col}` AS doc_id,
         split(lower(replace(`{text_col}`, '\\n', ' ')), ' ') AS toks
  FROM {{corpus}}
),
pos AS (
  SELECT doc_id, toks, n,
         explode(sequence(1, greatest(n - {km1}, 1))) AS i
  FROM (SELECT doc_id, toks, size(toks) AS n FROM toked)
),
per_shingle AS (
  SELECT doc_id,
         {shingle} AS g
  FROM pos
),
sig_shingles AS (
  SELECT doc_id, shingles, array({sig_array}) AS sig
  FROM (SELECT doc_id, collect_set(g) AS shingles, {mins}
        FROM per_shingle GROUP BY doc_id)
),
buckets AS (
  SELECT doc_id, bucket.band AS band, bucket.band_hash AS band_hash
  FROM sig_shingles
  LATERAL VIEW explode(array({band_structs})) t AS bucket
),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b
  FROM buckets l JOIN buckets r
    ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
),
shingled AS (
  SELECT doc_id,
         slice(shingles, 1, size(shingles) + pmod(xxhash64(sig), 1)) AS shingles
  FROM sig_shingles
)
SELECT p.doc_id_a, p.doc_id_b,
       round(size(array_intersect(sa.shingles, sb.shingles))
             / size(array_union(sa.shingles, sb.shingles)), 6) AS jaccard
FROM pairs p
JOIN shingled sa ON p.doc_id_a = sa.doc_id
JOIN shingled sb ON p.doc_id_b = sb.doc_id
""".format(
        id_col=id_col,
        text_col=text_col,
        km1=k - 1,
        shingle=shingle,
        sig_array=sig_array,
        mins=mins,
        band_structs=band_structs,
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs,
    then candidates are verified with exact shingle Jaccard.

    Shingles are 64-bit hash identities — Jaccard over hashed shingles
    equals string-shingle Jaccard up to negligible collision probability.
    Built by :func:`_minhash_pairs_sql`.  Nothing is cached: a multi-stage
    production pipeline materializes the signature table to storage."""
    return df.sparkSession.sql(
        _minhash_pairs_sql(id_col, text_col, k, num_hashes, bands), corpus=df
    )


def portable_minhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """MinHash+LSH with an oracle-portable hash family: per-seed minima of
    ``md5(seed || ':' || shingle)`` hex strings (lexicographic min), band
    keys ``md5(minima joined by ',')``.

    Same pipeline as :func:`minhash_candidate_pairs` (one SQL template) but
    every value is reproducible in ANSI SQL/DuckDB — this is the variant
    the DuckDB oracle gate hash-checks; production uses the xxhash64
    family."""
    return df.sparkSession.sql(
        _minhash_pairs_sql(id_col, text_col, k, num_hashes, bands, family="md5"),
        corpus=df,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_jaccard: float = 0.8,
    join_df: Optional[DataFrame] = None,
) -> DataFrame:
    """Exact n-gram Jaccard over all pairs (small inputs / verification).

    For scale, feed ``minhash_candidate_pairs`` output instead of the cross
    join — this exists as the correctness baseline the LSH path is verified
    against.
    """
    shingled = df.select(
        F.col(id_col).alias("doc_id"), word_shingles(F.col(text_col), k).alias("shingles")
    )
    other = (join_df if join_df is not None else shingled).alias("r")
    return (
        shingled.alias("l")
        .join(other, F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_id_a"),
            F.col("r.doc_id").alias("doc_id_b"),
            F.round(
                F.size(F.array_intersect("l.shingles", "r.shingles"))
                / F.size(F.array_union("l.shingles", "r.shingles")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def portable_simhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bits: int = 32,
) -> DataFrame:
    """Oracle-portable simhash: per-token ``md5`` hex, bit j = top bit of hex
    digit j (equivalently ``substr(md5(tok), j, 1) >= '8'`` — identical in
    any engine with lowercase-hex md5), majority vote per document, emitted
    as a '0'/'1' bit-string column.

    num_bits partial-aggregable sums, one shuffle keyed by doc_id, and
    every value is reproducible in DuckDB, so the driver's gate can
    hash-check it.
    Ties (vote sum == 0) resolve to '0' in both engines.
    """
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    hashed = exploded.select("doc_id", F.md5("tok").alias("h"))
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.substring(F.col("h"), j + 1, 1) >= "8", 1).otherwise(-1)
            ).alias("bit%d" % j)
            for j in range(num_bits)
        ]
    )
    return votes.select(
        "doc_id",
        F.concat(
            *[
                F.when(F.col("bit%d" % j) > 0, F.lit("1")).otherwise(F.lit("0"))
                for j in range(num_bits)
            ]
        ).alias("simhash_bits"),
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n_bands: int = 8,
    rows_per_band: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    dim: Optional[int] = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via BANDED signed-random-
    projection LSH — the scale path for semantic dedup (no reference
    counterpart: the reference has no embedding operators; this is the
    LLM-training-data extension, SURVEY §9).

    Plan shape mirrors :func:`minhash_candidate_pairs`: every band/bucket
    key is a codegen'd JVM-side dot-product sign fold, ONE explode yields
    the ``(id, band, bucket)`` table, the self-join shuffle carries ids
    only (never the vectors), and the exact cosine verifies candidates
    after joining the vectors back onto the candidate set — at corpus scale
    the difference between shuffling ids and shuffling the embedding matrix.

    Returns ``(id_a, id_b, cosine)`` with ``id_a < id_b`` and
    ``cosine >= threshold`` among banding candidates.  Recall: a pair at
    angle theta collides in one band with prob ``(1-theta/pi)^r`` and in
    any of L bands with ``1-(1-(1-theta/pi)^r)^L``; at the production
    operating point (cos >= 0.9, r=4, L=8) that is >= 0.999, at looser
    thresholds raise L or lower r (the standard recall/cost dial —
    pytest pins the production point on a seeded clustered corpus).
    """
    from .similarity import _embedding_dim, dot, embedding_norm, lsh_bucket, random_hyperplanes

    if dim is None:
        dim = _embedding_dim(df, vec_col)
    planes = random_hyperplanes(dim, n_bands * rows_per_band, seed)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                lsh_bucket(
                    F.col(vec_col),
                    planes[b * rows_per_band : (b + 1) * rows_per_band],
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    # norms precomputed ONCE per vector (not per candidate pair): the
    # verification join then folds one dot product per pair instead of three
    vectors = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        embedding_norm(F.col(vec_col)).alias("norm"),
    )
    buckets = df.select(
        F.col(id_col).alias("id"), F.explode(band_structs).alias("bb")
    ).select("id", "bb.band", "bb.bucket")
    pairs = (
        buckets.alias("l")
        .join(
            buckets.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cos = dot(F.col("vec_a"), F.col("vec_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    return (
        pairs.join(
            vectors.select(
                F.col("id").alias("id_a"),
                F.col("vec").alias("vec_a"),
                F.col("norm").alias("norm_a"),
            ),
            "id_a",
        )
        .join(
            vectors.select(
                F.col("id").alias("id_b"),
                F.col("vec").alias("vec_b"),
                F.col("norm").alias("norm_b"),
            ),
            "id_b",
        )
        .select("id_a", "id_b", cos.alias("_cos"))
        .filter(F.col("_cos") >= threshold)
        .select(
            "id_a", "id_b", F.round(F.col("_cos"), round_digits).alias("cosine")
        )
    )


def repetition_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 2,
) -> DataFrame:
    """Within-document repetition signals (Gopher-style repetition rules,
    Rae et al. 2021 §A1.1: documents dominated by a few repeated n-grams
    are low-quality training data).

    Per document over its k-gram OCCURRENCES (multiplicity counts, unlike
    the shingle *sets* dedup uses):

    - ``n_ngrams``        — total k-gram occurrences;
    - ``top_ngram_frac``  — occurrences of the most frequent k-gram / total;
    - ``dup_ngram_frac``  — fraction of occurrences whose k-gram appears
      more than once.

    Scale design: reuses :func:`shingle_hash_table`'s codegen'd
    explode+hash construction (one row per position, multiplicity
    preserved), then TWO partial-aggregated shuffles — ``(doc_id, g)``
    counts, then per-``doc_id`` ratios.  Both keys are fine-grained (no
    skew: a single document's k-grams spread nowhere — the first groupBy
    key includes the gram), nothing wider than (id, hash, count) is ever
    shuffled, and the output fractions are hash-identity-independent, so
    the DuckDB oracle verifies them grouping by the k-gram STRING."""
    per = shingle_hash_table(df, id_col=id_col, text_col=text_col, k=k)
    counts = per.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    total = F.sum("c")
    return (
        counts.groupBy("doc_id")
        .agg(
            total.cast("long").alias("n_ngrams"),
            F.round(F.max("c") / total, 6).alias("top_ngram_frac"),
            F.round(
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)) / total, 6
            ).alias("dup_ngram_frac"),
        )
    )


def ngram_contamination(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "doc_id",
    eval_text_col: str = "text",
    k: int = 13,
    min_collisions: int = 1,
) -> DataFrame:
    """Benchmark decontamination: training documents sharing any k-gram
    with an evaluation set (the GPT-3 appendix-C / PaLM 13-gram rule).
    Returns ``(doc_id, n_contaminated_ngrams)`` for documents with at
    least ``min_collisions`` distinct colliding k-grams.

    Scale design: the EVAL side is small (a benchmark suite is 10^3-10^6
    documents), so its DISTINCT k-gram hash set is explicitly
    ``broadcast()`` — no shuffle of the corpus side for the join.  The
    corpus side is the 100 TB scan: k-grams materialize inside whole-stage
    codegen (:func:`shingle_hash_table` — one row per position, never a
    string build), the broadcast hash join discards everything but the
    rare collisions, and only ``(doc_id, g)`` collision rows reach the
    dedup + per-doc count shuffles (tiny by construction).  Documents
    shorter than k tokens degrade to a whole-text identity on BOTH sides,
    so an exact short duplicate of an eval doc still flags."""
    corpus = shingle_hash_table(df, id_col=id_col, text_col=text_col, k=k)
    eval_grams = (
        shingle_hash_table(
            eval_df, id_col=eval_id_col, text_col=eval_text_col, k=k
        )
        .select("g")
        .distinct()
    )
    return (
        corpus.join(F.broadcast(eval_grams), "g")
        .select("doc_id", "g")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated_ngrams"))
        .filter(F.col("n_contaminated_ngrams") >= min_collisions)
    )


# Rabin-Karp polynomial parameters for winnowing (31-bit prime modulus:
# every intermediate product stays under 2^63, so the SAME arithmetic runs
# overflow-free under Spark's ANSI longs and DuckDB BIGINTs)
_WINNOW_P = (1 << 31) - 1
_WINNOW_B = 1000003


def _token_int(tok: Column) -> Column:
    """Deterministic 32-bit integer per token: first 8 hex chars of md5 —
    portable (DuckDB: CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT))."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer et al., SIGMOD 2003):
    a Rabin-Karp POLYNOMIAL hash over each k-token gram, then per sliding
    window of ``window`` consecutive gram positions keep the minimum hash;
    the distinct kept hashes are the document's fingerprint set.
    Winnowing guarantees any shared run of ``k + window - 1`` tokens
    between two documents yields at least one shared fingerprint — the
    classic plagiarism/containment detector, complementing MinHash (which
    estimates whole-document resemblance, not containment).

    The hash family is the rolling-hash family
    ``h(i) = sum_j t_{i+j} * B^(k-1-j) mod P``; the O(1) rolling UPDATE is
    a per-document sequential scan, so on Spark each position's hash is
    recomputed directly inside whole-stage codegen instead — O(k) work per
    position with tiny k, embarrassingly parallel, no serial dependency.
    Plan: codegen'd position explode + polynomial expressions, ONE window
    (partitioned by doc — fine-grained keys) for the sliding minimum, one
    distinct.  Documents shorter than ``k`` tokens yield no fingerprints
    (documented; exact dedup covers them).

    Returns one row per ``(doc_id, fingerprint)``.
    """
    tokens = F.split(normalized_text(F.col(text_col)), " ")
    toked = df.select(
        F.col(id_col).alias("doc_id"), tokens.alias("toks"), F.size(tokens).alias("n")
    ).filter(F.col("n") >= k)
    pos = toked.select(
        "doc_id",
        "toks",
        "n",
        F.explode(F.sequence(F.lit(1), F.col("n") - (k - 1))).alias("i"),
    )
    h = F.lit(0).cast("long")
    for j in range(k):
        t = _token_int(F.element_at("toks", F.col("i") + j))
        h = (h * F.lit(_WINNOW_B) + t) % F.lit(_WINNOW_P)
    hashed = pos.select("doc_id", "n", F.col("i").alias("pos"), h.alias("h"))
    from pyspark.sql import Window as _W

    frame = (
        _W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, window - 1)
    )
    n_pos = F.col("n") - (k - 1)
    return (
        hashed.withColumn("_wmin", F.min("h").over(frame))
        .filter(F.col("pos") <= F.greatest(n_pos - (window - 1), F.lit(1)))
        .select("doc_id", F.col("_wmin").alias("fingerprint"))
        .distinct()
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring deduplication (the ExactSubstr rule of Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    drop every token that lies inside a >= ``k``-token span occurring at
    least ``min_count`` times across the corpus (self-repeats included).

    The reference method builds a corpus-wide suffix array — a single-
    machine construction that does not shard.  The Spark-first
    re-expression rests on an exact equivalence, not an approximation:
    a duplicated span of length L >= k contains a duplicated k-gram
    through every one of its positions, and a duplicated k-gram IS a
    duplicated span of length k — so "tokens covered by some duplicated
    k-gram" equals "tokens inside some duplicated >= k-token span".
    (Unlike the suffix-array pipeline, ALL occurrences are dropped, not
    all-but-one: keeping a canonical copy needs a global occurrence
    order, which is exactly the serial construction being avoided;
    dropping all is the deterministic, shard-local rule.)

    Matching is EXACT (case- and punctuation-sensitive, like the byte-
    level original); only newlines fold to spaces so tokens mirror the
    whitespace tokenizer.

    Scale design: the text column never shuffles.  The k-gram stream is
    (doc_id, pos, 128-bit gram digest) built in codegen — ONE partial-
    aggregated shuffle counts digests, a digest-keyed LEFT SEMI join
    (AQE: broadcast when the duplicated set is small, else sort-merge)
    keeps duplicated positions, and one doc_id-keyed shuffle folds them
    to a per-doc start array that joins back to the documents.  The
    rebuild is a per-row codegen filter: token t survives iff no
    duplicated-gram start lies in [t-k+1, t] — O(|starts|) per token
    (fine in the realistic regime where duplication is sparse; a fully-
    duplicated document degrades to O(n^2) in its OWN row only, bounded
    by the pipeline's oversized-row guard).  The digest is md5 (128-bit:
    no meaningful collision mass at corpus scale, and reproducible in
    the DuckDB oracle, which replays the construction relationally)."""
    toks = F.filter(
        F.split(F.replace(F.col(text_col), F.lit("\n"), F.lit(" ")), " "),
        lambda t: t != "",
    )
    d = df.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
    grams = F.when(
        F.size("_toks") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - F.lit(k - 1)),
            lambda i: F.md5(F.array_join(F.slice("_toks", i, k), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    stream = d.select("doc_id", F.posexplode(grams).alias("p0", "gh")).select(
        "doc_id", (F.col("p0") + 1).alias("pos"), "gh"
    )
    dup_grams = (
        stream.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("gh")
    )
    dup_starts = (
        stream.join(dup_grams, "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("pos")).alias("_dups"))
    )
    joined = d.join(dup_starts, "doc_id", "left").withColumn(
        "_dups", F.coalesce(F.col("_dups"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        "_toks",
        lambda tok, i: ~F.exists(
            "_dups",
            lambda s: (s >= i + 1 - F.lit(k - 1)) & (s <= i + 1),
        ),
    )
    return joined.select(
        "doc_id",
        F.size("_toks").alias("n_tokens_before"),
        (F.size("_toks") - F.size(kept)).alias("n_tokens_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def remove_common_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Boilerplate LINE removal (the line/paragraph-granularity dedup of
    CCNet and RefinedWeb: navigation chrome, cookie banners, "subscribe"
    calls repeat VERBATIM across pages — drop every line whose exact
    content appears in >= ``min_docs`` distinct documents).  Sits between
    document-level dedup (whole-text fingerprints) and span-level dedup
    (:func:`remove_repeated_spans`): the unit is the newline-delimited
    line, matching is exact, and remaining lines keep their order.

    Scale design: the line text never shuffles for counting — the
    document-frequency aggregation runs on ``(md5 digest, doc_id)`` with
    a partial-aggregated distinct count, the common-digest set joins back
    LEFT ANTI (AQE broadcasts it when boilerplate is rare), and the
    reassembly is one doc-keyed shuffle of surviving ``(pos, line)``
    pairs folded through ``sort_array`` + ``array_join`` (codegen).  A
    doc whose every line is boilerplate comes back as the empty string —
    rows are never silently lost.  Empty lines are lines too: a corpus
    where blank separators repeat across >= min_docs documents will drop
    them (exact-match semantics, documented)."""
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("_h", F.md5(F.col("line")))
    common = (
        lines.groupBy("_h")
        .agg(F.count_distinct(F.col("doc_id")).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_h")
    )
    kept = lines.join(common, "_h", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("_n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), "\n")).alias("n_lines_before"),
    )
    return (
        base.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines_before",
            (F.col("n_lines_before") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("int")
            .alias("n_lines_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def with_common_lines_removed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Composition form of :func:`remove_common_lines`: the SAME line-level
    dedup, but the result keeps every input column with ``text_col``
    replaced by the cleaned text — the shape a pipeline stage needs
    (the summary form exists for the gate's value check).  One extra
    doc-keyed join versus the summary form; all scale properties carry
    over."""
    cleaned = remove_common_lines(
        df.select(F.col(id_col), F.col(text_col)),
        id_col=id_col,
        text_col=text_col,
        min_docs=min_docs,
    ).select(F.col("doc_id").alias(id_col), F.col("clean_text"))
    return (
        df.join(cleaned, id_col)
        .withColumn(text_col, F.col("clean_text"))
        .drop("clean_text")
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a_col: str = "doc_id_a",
    id_b_col: str = "doc_id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a near-duplicate pair set -> per-document
    cluster labels (``doc_id``, ``cluster_id`` = the smallest member id).

    The step every web-scale dedup needs after candidate-pair generation:
    MinHash banding emits PAIRS, but duplicate relations are transitive
    (a~b, b~c => one cluster {a,b,c}) and the keep-one policy needs one
    representative per component, not per pair.

    Algorithm: alternating Large-Star / Small-Star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014), the
    shuffle-native formulation that converges in O(log n) rounds even on
    pathological chain graphs where naive min-label propagation needs
    O(diameter) rounds:

    - large-star: every node points its LARGER neighbors at the minimum
      of its closed neighborhood;
    - small-star: every node and its smaller neighbors re-point at the
      minimum of the smaller neighborhood.

    Each half-round is ONE min-aggregate plus ONE node-keyed join over an
    edge list of two ids — nothing wider ever shuffles, and a high-degree
    hub (one page duplicated millions of times) is handled by
    construction: large-star splits its neighborhood toward the minimum
    instead of funnelling it through one reducer.  Per round the edge set
    is localCheckpoint'ed (eager) so the iterative plan's lineage stays
    O(1); on a production cluster prefer a reliable ``checkpoint()`` dir
    for fault tolerance (same call site).  Convergence is detected by an
    exact ``exceptAll``-emptiness check on the canonical (big, small)
    edge set; ``max_iter`` (default 50 >> log2 of any realistic corpus)
    guards against a non-terminating regression with a RuntimeError.

    Rows with a null id are dropped; self-pairs are ignored; ids may be
    any orderable type (the representative is the MIN).  Singleton
    documents (no pair) are not emitted — left-join the corpus and
    coalesce to self.
    """
    a = F.col(id_a_col)
    b = F.col(id_b_col)
    raw = (
        pairs.filter(a.isNotNull() & b.isNotNull() & (a != b))
        .select(a.alias("u"), b.alias("v"))
    )
    # canonical (big, small) so both star phases and the convergence
    # check operate on one representation
    edges = (
        raw.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sym(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    for _ in range(max_iter):
        # large-star over the symmetric view: m = min(neighborhood + self);
        # larger neighbors re-point at m
        sym = _sym(edges)
        mins = sym.groupBy("u").agg(F.min("v").alias("_mv"))
        m = F.least(F.col("_mv"), F.col("u")).alias("_m")
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: edges already point big -> small, so the smaller
        # neighborhood of u is exactly its out-neighbors
        smins = large.groupBy("u").agg(F.min("v").alias("_m"))
        small = (
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("_m").alias("v"))
            .union(smins.select("u", F.col("_m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        converged = small.exceptAll(edges).isEmpty() and (
            small.count() == edges.count()
        )
        edges = small
        if converged:
            break
    else:
        raise RuntimeError(
            "duplicate_clusters did not converge in %d rounds" % max_iter
        )
    # star forest: non-roots have exactly one out-edge to the component
    # minimum; roots label themselves
    labels = edges.groupBy("u").agg(F.min("v").alias("cluster_id"))
    nodes = raw.select(F.col("u").alias("n")).union(
        raw.select(F.col("v"))
    ).distinct()
    return (
        nodes.join(labels, nodes["n"] == labels["u"], "left")
        .select(
            F.col("n").alias("doc_id"),
            F.coalesce(F.col("cluster_id"), F.col("n")).alias("cluster_id"),
        )
    )
