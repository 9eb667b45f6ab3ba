"""Similarity search over an embedding column (``array<float>``).

- ``cosine_topk``: brute-force exact top-k against a query vector.  The dot
  product is a JVM-side ``aggregate(zip_with(...))`` fold — no Python — so the
  scan parallelizes like any projection and AQE coalesces the final top-k.
- ``lsh_topk``: random-hyperplane LSH variant — the scale path.  Hyperplanes
  are derived deterministically from a seed; candidates come from an
  equality-keyed bucket filter, then exact cosine re-ranks.  At 10^12 rows
  the brute-force scan reads everything; the LSH path prunes to one bucket
  (or a multi-probe set), which is the standard recall/cost dial.
- ``embedding_norm`` / ``dot``: reusable column builders.
"""

from __future__ import annotations

import math
import random
from typing import List, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def embedding_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _query_literal(query_vector: Sequence[float]) -> Column:
    # one array literal in a single py4j call — the per-element F.array form
    # cost ~65 driver round-trips per query construction at dim 64
    values = [float(v) for v in query_vector]
    try:
        return F.lit(values)
    except Exception:  # pragma: no cover - older Spark without list literals
        return F.array(*[F.lit(v) for v in values])


def cosine_topk(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact brute-force cosine top-k (the correctness baseline).

    Ordering uses the unrounded cosine (ties broken by id) so the selected
    set is stable; the output value is rounded for cross-engine comparison.
    """
    q = _query_literal(query_vector)
    q_norm = math.sqrt(sum(float(v) ** 2 for v in query_vector)) or 1.0
    cos = dot(F.col(vec_col), q) / (embedding_norm(F.col(vec_col)) * F.lit(q_norm))
    return (
        df.select(F.col(id_col), cos.alias("_cos"))
        .orderBy(F.col("_cos").desc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col), F.round(F.col("_cos"), round_digits).alias("cosine"))
    )


def _embedding_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality via a 1-row probe, with a CLEAR error when it
    cannot be determined (empty input / null vector) — never a silent 0.

    The probe is an eager Spark job; callers on a hot path should pass an
    explicit ``dim`` instead (the parquet schema types ``array<float>``
    without a length, so the schema alone cannot answer this).
    """
    probe = df.select(F.size(F.col(vec_col)).alias("d")).filter(
        F.col("d") > 0
    ).limit(1).collect()
    if not probe:
        raise ValueError(
            "cannot determine embedding dimension from column %r: input has no "
            "row with a non-empty vector; pass dim= explicitly" % vec_col
        )
    return int(probe[0]["d"])


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> List[List[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)]
        for _ in range(n_planes)
    ]


def lsh_bucket(vec: Column, hyperplanes: List[List[float]]) -> Column:
    """Sign-bit bucket id from dot products with the hyperplanes."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(hyperplanes):
        bit = F.when(dot(vec, _query_literal(plane)) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + (bit.cast("long") * F.lit(2 ** i).cast("long"))
    return bucket


def add_lsh_bucket(
    df: DataFrame,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    bucket_col: str = "lsh_bucket",
    dim: int = None,
) -> DataFrame:
    """INGEST-side LSH bucket materialization.

    At serving scale the bucket must be a stored column computed once when
    rows land (not recomputed per query — ``lsh_topk`` scans every row to
    evaluate ``n_planes`` dot products, which is fine for a one-off batch
    query but wrong as an ANN serving pattern).  Write the result partitioned
    by the bucket column so the query-side filter becomes partition pruning:

        add_lsh_bucket(df).write.partitionBy("lsh_bucket").parquet(path)

    then query the stored table with :func:`lsh_topk_prebucketed`.

    ``dim``: embedding dimensionality.  Pass it explicitly at ingest (no
    extra Spark job); when omitted, a 1-row probe determines it and raises
    a clear error on an empty/null-vector input rather than silently
    degenerating to zero-dimension hyperplanes.
    """
    if dim is None:
        dim = _embedding_dim(df, vec_col)
    if dim <= 0:
        raise ValueError("embedding dimension must be positive, got %r" % dim)
    planes = random_hyperplanes(dim, n_planes, seed)
    return df.withColumn(bucket_col, lsh_bucket(F.col(vec_col), planes))


def lsh_topk_prebucketed(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "lsh_bucket",
    multi_probe_bits: int = 1,
    round_digits: int = 6,
) -> DataFrame:
    """ANN top-k against a table with a MATERIALIZED ``bucket_col``
    (see :func:`add_lsh_bucket`).

    The probe-bucket set is computed driver-side from the query vector; the
    scan filters the stored column only — no per-row hyperplane evaluation —
    so on a bucket-partitioned layout the filter is pure partition pruning
    and the exact cosine re-rank touches just the probed buckets.
    Returns ``(id, bucket, cosine)`` so the bucket assignment itself is
    value-checkable.
    """
    planes = random_hyperplanes(len(query_vector), n_planes, seed)
    query_bucket = sum(
        (1 << i)
        for i, plane in enumerate(planes)
        if sum(p * v for p, v in zip(plane, query_vector)) >= 0
    )
    probe_buckets = {query_bucket}
    if multi_probe_bits:
        for i in range(n_planes):
            probe_buckets.add(query_bucket ^ (1 << i))
    candidates = df.filter(F.col(bucket_col).isin(*sorted(probe_buckets)))
    q = _query_literal(query_vector)
    q_norm = math.sqrt(sum(float(v) ** 2 for v in query_vector)) or 1.0
    cos = dot(F.col(vec_col), q) / (embedding_norm(F.col(vec_col)) * F.lit(q_norm))
    return (
        candidates.select(F.col(id_col), F.col(bucket_col), cos.alias("_cos"))
        .orderBy(F.col("_cos").desc(), F.col(id_col))
        .limit(k)
        .select(
            F.col(id_col),
            F.col(bucket_col),
            F.round(F.col("_cos"), round_digits).alias("cosine"),
        )
    )


def lsh_topk(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe_bits: int = 1,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k: filter to the query's LSH bucket (plus single-bit
    probe neighbours), then exact cosine re-rank of the candidates."""
    dim = len(query_vector)
    planes = random_hyperplanes(dim, n_planes, seed)
    query_bits = [
        1 if sum(p * v for p, v in zip(plane, query_vector)) >= 0 else 0
        for plane in planes
    ]
    query_bucket = sum(bit << i for i, bit in enumerate(query_bits))
    probe_buckets = {query_bucket}
    if multi_probe_bits:
        for i in range(n_planes):
            probe_buckets.add(query_bucket ^ (1 << i))
    candidates = df.withColumn("bucket", lsh_bucket(F.col(vec_col), planes)).filter(
        F.col("bucket").isin(*sorted(probe_buckets))
    )
    return cosine_topk(
        candidates, query_vector, k=k, id_col=id_col, vec_col=vec_col,
        round_digits=round_digits,
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = None,
) -> DataFrame:
    """Per-label centroid + count: ``(label, centroid array<double>, n_vectors)``.

    One groupBy shuffle; the per-dimension averages partial-aggregate
    map-side, so the shuffle carries |labels| x dim running sums, not rows.
    """
    if dim is None:
        dim = _embedding_dim(df, vec_col)
    return df.groupBy(label_col).agg(
        F.array(*[F.avg(F.col(vec_col)[i]) for i in range(dim)]).alias("centroid"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


def pairwise_topk_by_label(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 6,
    dim: int = None,
) -> DataFrame:
    """Each vector's cosine to its LABEL CENTROID, top-k vectors per label:
    ``(label, id, cosine)`` (a grouped-similarity pattern).

    Plan: :func:`label_centroids` (one shuffle, map-side partials) -> the
    tiny |labels|-row centroid table is BROADCAST back onto the vectors, so
    the per-vector cosine is a broadcast hash join + a JVM fold with no
    second shuffle of the big side; the per-label top-k is a window over the
    label partitioning.  Ordering uses the unrounded cosine (ties broken by
    id); the output value is rounded for cross-engine comparison.
    """
    from pyspark.sql import Window

    centroids = label_centroids(df, vec_col=vec_col, label_col=label_col, dim=dim)
    joined = df.join(
        F.broadcast(centroids.select(label_col, "centroid")), on=label_col
    )
    cos = dot(F.col(vec_col), F.col("centroid")) / (
        embedding_norm(F.col(vec_col)) * embedding_norm(F.col("centroid"))
    )
    w = Window.partitionBy(label_col).orderBy(
        F.col("_cos").desc(), F.col(id_col)
    )
    return (
        joined.select(F.col(label_col), F.col(id_col), cos.alias("_cos"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col(label_col),
            F.col(id_col),
            F.round(F.col("_cos"), round_digits).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the clustering-based scale path, complementing
# the hyperplane-based LSH path above.  No reference counterpart (the
# reference has no embedding operators; LLM-training-data extension).


# Above this dimension the per-iteration centroid reduce stops building
# ``dim`` separate F.avg expressions (the same Catalyst-tree-growth ceiling
# the matmul path closes for assignment) and switches to one Arrow-batched
# per-partition partial-sum stage whose plan size is dim-independent.
_IVF_TRAIN_EXPR_MAX_DIM = 1024


def _centroid_sums_expr(assigned: DataFrame, vec_col: str, dim: int):
    """Per-cell (count, elementwise vector sum) via ``dim`` JVM expressions —
    SQL-replicable, practical to dim ~1024."""
    return (
        assigned.groupBy("_cell")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            *[F.sum(F.col(vec_col)[i]).alias("c%d" % i) for i in range(dim)]
        )
        .collect(),
        lambda r: [r["c%d" % i] / r["_n"] for i in range(dim)],
    )


def _centroid_reduce_arrow_plan(
    assigned: DataFrame, vec_col: str, dim: int
) -> DataFrame:
    """Per-cell (count, elementwise vector sum) with a dim-independent plan:
    one ``mapInPandas`` stage folds each PARTITION into at most k partial
    rows ``(_cell, _n, _sums)`` (the vectors die in place — never shuffled,
    same as the expr path's map-side combine), then a single
    ``aggregate(collect_list, zip_with)`` expression — one Catalyst node
    regardless of dim — merges the <= num_partitions partials per cell."""
    import numpy as np

    def _partials(batches):
        counts, sums = {}, {}
        for pdf in batches:
            for cell, grp in pdf.groupby("_cell"):
                m = np.vstack(
                    [np.asarray(v, dtype=np.float64) for v in grp[vec_col]]
                )
                cell = int(cell)
                counts[cell] = counts.get(cell, 0) + len(m)
                prev = sums.get(cell)
                s = m.sum(axis=0)
                sums[cell] = s if prev is None else prev + s
        if counts:
            cells = sorted(counts)
            yield pd.DataFrame(
                {
                    "_cell": cells,
                    "_n": [counts[c] for c in cells],
                    "_sums": [sums[c].tolist() for c in cells],
                }
            )

    partials = assigned.select("_cell", vec_col).mapInPandas(
        _partials, schema="_cell int, _n long, _sums array<double>"
    )
    zero = F.array_repeat(F.lit(0.0), dim)
    return partials.groupBy("_cell").agg(
        F.sum("_n").alias("_n"),
        F.aggregate(
            F.collect_list("_sums"),
            zero,
            lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
        ).alias("_sums"),
    )


def _centroid_sums_arrow(assigned: DataFrame, vec_col: str, dim: int):
    rows = _centroid_reduce_arrow_plan(assigned, vec_col, dim).collect()
    return rows, lambda r: [s / r["_n"] for s in r["_sums"]]


def ivf_train(
    df: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = None,
    reduce: str = "auto",
) -> List[List[float]]:
    """Deterministic spherical k-means coarse quantizer, trained IN SPARK.

    Init: the ``n_cells`` vectors with the smallest ids (deterministic —
    no RNG, so retraining on the same table reproduces the same model).
    Each Lloyd iteration is one broadcast (the k x dim centroid table rides
    into the assignment expression as literals) + ONE groupBy shuffle whose
    map-side partials carry k x dim running sums — the vectors are never
    shuffled.  Returns the centroids driver-side (k x dim floats — a model
    artifact, stored with the table like the LSH seed).

    ``iters=0`` returns the deterministic seed centroids unchanged (the
    SQL-replicable configuration the oracle uses); production tables train
    offline with more cells/iterations — the Spark machinery is identical.

    Scale notes: each iteration ``collect()``s the k x dim centroid table
    driver-side (the model artifact — ~512 MB worst case at k=65536,
    dim=1024 float64, typically a few MB).  ``reduce`` picks how the
    per-cell means are computed: ``"expr"`` builds ``dim`` JVM ``sum``
    expressions (SQL-replicable, practical to dim ~1024); ``"arrow"``
    replaces them with one ``mapInPandas`` per-partition partial-sum stage
    + a single dim-independent ``aggregate(zip_with)`` merge (the large-dim
    path — vectors still never shuffled, only <= k partial rows per
    partition); ``"auto"`` switches at ``_IVF_TRAIN_EXPR_MAX_DIM``.
    Assignment inside the loop goes through :func:`ivf_assign`'s ``auto``
    method, so above ``_IVF_EXPR_MAX_CELLS`` cells it uses the numpy-matmul
    path rather than the O(k * dim) Catalyst expression tree.  Data-side
    the plan stays one broadcast + one groupBy shuffle per iteration
    regardless of k and dim.
    """
    if dim is None:
        dim = _embedding_dim(df, vec_col)
    if reduce == "auto":
        reduce = "expr" if dim <= _IVF_TRAIN_EXPR_MAX_DIM else "arrow"
    if reduce not in ("expr", "arrow"):
        raise ValueError("ivf_train reduce must be auto/expr/arrow, got %r" % reduce)
    seed_rows = (
        df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_cells)
        .collect()
    )
    centroids = [[float(v) for v in r[vec_col]] for r in seed_rows]
    if len(centroids) < n_cells:
        raise ValueError(
            "ivf_train needs >= n_cells=%d rows, got %d" % (n_cells, len(centroids))
        )
    reducer = _centroid_sums_expr if reduce == "expr" else _centroid_sums_arrow
    for _ in range(iters):
        assigned = ivf_assign(
            df, centroids, vec_col=vec_col, cell_col="_cell"
        )
        new_rows, mean_of = reducer(assigned, vec_col, dim)
        by_cell = {r["_cell"]: mean_of(r) for r in new_rows}
        # an emptied cell keeps its previous centroid (standard Lloyd fix,
        # and keeps the model deterministic)
        centroids = [
            [float(v) for v in by_cell.get(c, centroids[c])]
            for c in range(n_cells)
        ]
    return centroids


def _cell_cosines(vec: Column, centroids: List[List[float]]) -> List[Column]:
    # zero-norm vectors get a guarded divisor of 1.0 (ANSI mode would raise
    # DIVIDE_BY_ZERO otherwise): every cosine is then 0.0 and the assignment
    # tie-breaks to cell 0 — the same defined behavior as the matmul path.
    norm = embedding_norm(vec)
    safe_norm = F.when(norm == 0.0, F.lit(1.0)).otherwise(norm)
    return [
        dot(vec, _query_literal(c))
        / (safe_norm * F.lit(math.sqrt(sum(v * v for v in c)) or 1.0))
        for c in centroids
    ]


# Above this cell count the expression path's Catalyst tree (k dot-product
# folds + a k-deep greatest chain + k when branches) stops being the right
# tool: at k=4096, dim=256 it is a multi-million-node expression — plan
# COMPILATION, not data movement, becomes the bottleneck.  The matmul path
# replaces it with one Arrow-batched numpy matmul per batch.
_IVF_EXPR_MAX_CELLS = 16


def _ivf_assign_matmul(
    df: DataFrame,
    centroids: List[List[float]],
    vec_col: str,
    cell_col: str,
) -> DataFrame:
    """Matmul assignment: ONE vectorized Python stage, still no shuffle.

    The (k x dim) centroid matrix is row-normalized once driver-side and
    rides into the executors inside the UDF closure (broadcast by Spark's
    task serialization — k=65536 x dim=1024 float64 is ~512 MB worst case,
    typically a few MB); each Arrow batch is stacked into an (n x dim)
    matrix and a single ``batch @ centroids.T`` + ``argmax`` assigns every
    row.  ``np.argmax`` takes the FIRST maximal column — the same
    lowest-cell-id tie-break as the expression path — a zero-norm vector
    gets a guarded divisor of 1.0 in BOTH paths (all-zero cosine row ->
    cell 0), and a NULL embedding yields a NULL cell in both paths (in the
    expression path the null cosines fall through every WHEN branch).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray(centroids, dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    cnorm[cnorm == 0.0] = 1.0
    cmat_t = np.ascontiguousarray((cmat / cnorm[:, None]).T)  # dim x k

    @pandas_udf("int")
    def _nearest_cell(vecs: pd.Series) -> pd.Series:
        # null embeddings -> null cell (parity with the expression path,
        # which would otherwise work at k<=16 and crash here at k=17)
        mask = vecs.isna().to_numpy(dtype=bool)
        out = pd.array([None] * len(vecs), dtype="Int32")
        if (~mask).any():
            m = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in vecs[~mask]]
            )
            vnorm = np.sqrt((m * m).sum(axis=1))
            vnorm[vnorm == 0.0] = 1.0
            cos = (m @ cmat_t) / vnorm[:, None]
            out[~mask] = np.argmax(cos, axis=1).astype("int32")
        return pd.Series(out, dtype="Int32")

    return df.withColumn(cell_col, _nearest_cell(F.col(vec_col)))


def ivf_assign(
    df: DataFrame,
    centroids: List[List[float]],
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    method: str = "auto",
) -> DataFrame:
    """Adds the nearest-centroid (max cosine, ties to the LOWEST cell id)
    cell column.  Like ``add_lsh_bucket``, this is the INGEST-side
    materialization: write the table ``partitionBy(ivf_cell)`` and the
    query-side probe filter becomes partition pruning.

    ``method``:

    - ``"expr"`` — pure JVM expressions (k dot-product folds + a greatest
      chain), no Python, no shuffle.  SQL-replicable (the oracle path), but
      the Catalyst tree grows as O(k * dim): practical only for small k.
    - ``"matmul"`` — one Arrow-batched numpy matmul per batch against a
      broadcast row-normalized centroid matrix (see
      :func:`_ivf_assign_matmul`).  One vectorized Python stage, still no
      shuffle; the scale path for realistic cell counts (k = 4096–65536).
    - ``"auto"`` (default) — ``expr`` for ``len(centroids) <= 16``, else
      ``matmul``.  The paths agree up to floating-point rounding of
      near-tied cosines (expr folds float32 arrays in SQL operation order;
      matmul pre-normalizes float64 centroids), and share the defined
      edges: zero-norm vector -> cell 0, null embedding -> null cell.
      Parity is pinned in ``tests/test_corpus_operators.py`` on data with
      no near-ties.
    """
    if method == "auto":
        method = "expr" if len(centroids) <= _IVF_EXPR_MAX_CELLS else "matmul"
    if method == "matmul":
        return _ivf_assign_matmul(df, centroids, vec_col, cell_col)
    if method != "expr":
        raise ValueError("ivf_assign method must be auto/expr/matmul, got %r" % method)
    cos = _cell_cosines(F.col(vec_col), centroids)
    best = cos[0]
    for c in cos[1:]:
        best = F.greatest(best, c)
    cell = F.lit(None).cast("int")
    # first cell achieving the max wins -> deterministic lowest-id tie-break
    for idx in range(len(centroids) - 1, -1, -1):
        cell = F.when(cos[idx] == best, F.lit(idx)).otherwise(cell)
    return df.withColumn(cell_col, cell)


def ivf_topk(
    df: DataFrame,
    query_vector: Sequence[float],
    centroids: List[List[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    round_digits: int = 6,
) -> DataFrame:
    """ANN top-k against a table with a MATERIALIZED ``cell_col``
    (see :func:`ivf_assign`): the ``nprobe`` nearest cells to the query are
    computed DRIVER-side from the stored centroids, the scan filters the
    stored cell column only (partition pruning on a cell-partitioned
    layout), and the exact cosine re-ranks just the probed cells.
    Returns ``(id, cell, cosine)`` so the cell assignment itself is
    value-checkable."""
    q_norm = math.sqrt(sum(float(v) ** 2 for v in query_vector)) or 1.0
    cell_scores = sorted(
        (
            (
                sum(p * v for p, v in zip(c, query_vector))
                / ((math.sqrt(sum(v * v for v in c)) or 1.0) * q_norm),
                idx,
            )
            for idx, c in enumerate(centroids)
        ),
        key=lambda t: (-t[0], t[1]),
    )
    probe_cells = sorted(idx for _, idx in cell_scores[:nprobe])
    q = _query_literal(query_vector)
    cos = dot(F.col(vec_col), q) / (embedding_norm(F.col(vec_col)) * F.lit(q_norm))
    return (
        df.filter(F.col(cell_col).isin(*probe_cells))
        .select(F.col(id_col), F.col(cell_col), cos.alias("_cos"))
        .orderBy(F.col("_cos").desc(), F.col(id_col))
        .limit(k)
        .select(
            F.col(id_col),
            F.col(cell_col),
            F.round(F.col("_cos"), round_digits).alias("cosine"),
        )
    )


# --- Product quantization (PQ / ADC; Jegou, Douze, Schmid 2011, "Product
# Quantization for Nearest Neighbor Search") ------------------------------
#
# At the 100 TB design point embeddings are the memory bound: a dim-1024
# float32 vector is 4 KiB, its PQ code (m=16, 256 codes) is 16 BYTES — the
# compression that makes an in-memory ANN serving tier possible at all.
# PQ splits each vector into m subvectors, k-means-quantizes every subspace
# independently, stores one code per subspace, and searches with ADC
# (asymmetric distance): the query stays exact, each subspace contributes a
# precomputed lookup-table entry, and a candidate's distance is the sum of
# its m table entries.

# expr-path encode is practical while dim * n_codes stays a small Catalyst
# tree; production (n_codes=256, dim>=512) takes the arrow path
_PQ_EXPR_MAX_TERMS = 4096


def _sub_slice(vec: Column, s: int, sub: int) -> Column:
    return F.slice(vec, s * sub + 1, sub)


def _sqdist_expr(vec_slice: Column, centroid: Sequence[float]) -> Column:
    """Squared L2 distance as a JVM fold (same shape as :func:`dot`)."""
    return F.aggregate(
        F.zip_with(vec_slice, _query_literal(centroid), lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _float_sql(v: float) -> str:
    """A double literal in SQL text — repr() is the shortest round-trip
    form, so the parsed value is bit-identical to the Python float."""
    return "CAST('%r' AS DOUBLE)" % float(v)


def _sqdist_sql(vec_slice_sql: str, centroid: Sequence[float]) -> str:
    """The :func:`_sqdist_expr` fold as SQL text — identical expression,
    built in ONE driver call instead of ~30 py4j round-trips per
    (subspace, code) pair (the column-API construction dominated the
    PQ queries' driver time)."""
    arr = ", ".join(_float_sql(c) for c in centroid)
    return (
        "aggregate(zip_with(%s, array(%s), (x, c) -> (x - c) * (x - c)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)" % (vec_slice_sql, arr)
    )


def _nested_double_lit(rows: Sequence[Sequence[float]]) -> Column:
    """array<array<double>> literal in one expression call."""
    return F.expr(
        "array(%s)"
        % ", ".join(
            "array(%s)" % ", ".join(_float_sql(v) for v in row) for row in rows
        )
    )


def pq_train(
    df: DataFrame,
    m: int = 8,
    n_codes: int = 8,
    iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = None,
) -> List[List[List[float]]]:
    """Deterministic per-subspace k-means codebooks, trained IN SPARK:
    ``codebooks[s][c]`` is the dim/m-float centroid of code ``c`` in
    subspace ``s``.

    Init mirrors :func:`ivf_train`: the ``n_codes`` lowest-id vectors'
    subvectors seed every subspace (no RNG — retraining reproduces the
    model; ``iters=0`` returns the seed, the SQL-replicable oracle
    configuration).  Each Lloyd iteration runs over the exploded
    ``(subspace, subvector)`` stream — assignment is a codegen argmin
    against the broadcast codebook literals, the reduce is ONE groupBy
    ``(subspace, code)`` shuffle carrying dim/m running sums per key
    (vectors never shuffle whole).  The returned model is m * n_codes *
    dim/m floats — the artifact a production table stores beside the data
    (like the LSH seed / IVF centroids)."""
    if dim is None:
        dim = _embedding_dim(df, vec_col)
    if dim % m != 0:
        raise ValueError("pq_train: dim %d not divisible by m %d" % (dim, m))
    sub = dim // m
    seed_rows = (
        df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_codes)
        .collect()
    )
    if len(seed_rows) < n_codes:
        raise ValueError(
            "pq_train: need >= %d vectors for the seed, got %d"
            % (n_codes, len(seed_rows))
        )
    codebooks = [
        [
            [float(v) for v in row[vec_col][s * sub : (s + 1) * sub]]
            for row in seed_rows
        ]
        for s in range(m)
    ]
    for _ in range(iters):
        pieces = F.array(
            *[
                F.struct(
                    F.lit(s).alias("_s"),
                    _sub_slice(F.col(vec_col), s, sub).alias("_v"),
                )
                for s in range(m)
            ]
        )
        exploded = df.select(F.explode(pieces).alias("p")).select(
            F.col("p._s").alias("_s"), F.col("p._v").alias("_v")
        )
        code = F.lit(None).cast("int")
        for s in reversed(range(m)):
            dists = F.array(
                *[_sqdist_expr(F.col("_v"), codebooks[s][c]) for c in range(n_codes)]
            )
            best = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
            code = F.when(F.col("_s") == s, best).otherwise(code)
        assigned = exploded.withColumn("_code", code)
        rows = (
            assigned.groupBy("_s", "_code")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                *[F.sum(F.col("_v")[i]).alias("c%d" % i) for i in range(sub)]
            )
            .collect()
        )
        new_books = [
            [list(codebooks[s][c]) for c in range(n_codes)] for s in range(m)
        ]  # emptied codes keep their previous centroid (IVF rule)
        for r in rows:
            new_books[r["_s"]][r["_code"]] = [
                r["c%d" % i] / r["_n"] for i in range(sub)
            ]
        codebooks = new_books
    return codebooks


def pq_encode(
    df: DataFrame,
    codebooks: List[List[List[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
    method: str = "auto",
) -> DataFrame:
    """Adds ``out_col``: the m-byte-shaped code array (argmin squared-L2
    subspace centroid, lowest code on ties).  ``method='expr'`` builds the
    argmin as codegen expressions (SQL-replicable; tree grows with
    dim * n_codes, auto-capped at %d terms); ``'arrow'`` is the production
    path — one Arrow-batched numpy argmin per subspace, plan size
    independent of n_codes (the same ceiling split as ivf_assign)."""
    m = len(codebooks)
    n_codes = len(codebooks[0])
    sub = len(codebooks[0][0])
    if method == "auto":
        method = "expr" if m * n_codes * sub <= _PQ_EXPR_MAX_TERMS else "arrow"
    if method == "expr":
        # one SQL string instead of thousands of py4j Column calls (the
        # column-API form cost ~3s of driver time per construction at
        # m=8, n_codes=8, sub=8); the expression tree is identical
        def dists_sql(s: int) -> str:
            slice_sql = "slice(`%s`, %d, %d)" % (vec_col, s * sub + 1, sub)
            return ", ".join(
                _sqdist_sql(slice_sql, codebooks[s][c]) for c in range(n_codes)
            )

        codes = F.expr(
            "array(%s)"
            % ", ".join(
                "CAST(array_position(array(%s), array_min(array(%s))) - 1 AS INT)"
                % (dists_sql(s), dists_sql(s))
                for s in range(m)
            )
        )
        return df.withColumn(out_col, codes)
    if method != "arrow":
        raise ValueError("pq_encode method must be auto/expr/arrow, got %r" % method)
    import numpy as np

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]

    def _encode(vecs: pd.Series) -> pd.Series:
        out = []
        for v in vecs:
            if v is None:
                out.append(None)
                continue
            x = np.asarray(v, dtype=np.float64)
            out.append(
                [
                    int(
                        np.argmin(
                            ((books[s] - x[s * sub : (s + 1) * sub]) ** 2).sum(axis=1)
                        )
                    )
                    for s in range(m)
                ]
            )
        return pd.Series(out)

    enc = F.pandas_udf(_encode, "array<int>")
    return df.withColumn(out_col, enc(F.col(vec_col)))


if pq_encode.__doc__:  # stripped to None under `python -OO`
    pq_encode.__doc__ = pq_encode.__doc__ % _PQ_EXPR_MAX_TERMS


def pq_adc_topk(
    encoded: DataFrame,
    query_vector: Sequence[float],
    codebooks: List[List[List[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    round_digits: int = 4,
) -> DataFrame:
    """ADC top-k over PQ codes: the m x n_codes lookup table (squared L2 of
    the exact query subvector to every centroid) is computed DRIVER-side
    (tiny — the model artifact again) and rides into ONE codegen fold:
    ``dist(code) = sum_s LUT[s][code[s]]``.  The scan reads only the code
    column (bytes, not vectors), the plan is a projection + global top-k —
    at serving scale this is the memory-bound tier PQ exists for.
    Ordering uses the unrounded distance (ties by id); the emitted value
    is rounded for cross-engine comparison."""
    m = len(codebooks)
    n_codes = len(codebooks[0])
    sub = len(codebooks[0][0])
    lut = [
        [
            sum(
                (float(query_vector[s * sub + i]) - codebooks[s][c][i]) ** 2
                for i in range(sub)
            )
            for c in range(n_codes)
        ]
        for s in range(m)
    ]
    lut_lit = _nested_double_lit(lut)
    dist = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(lut_lit, s + 1), F.element_at(F.col(codes_col), s + 1) + 1
        ),
    )
    return (
        encoded.select(F.col(id_col), dist.alias("_d"))
        .orderBy(F.col("_d").asc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col), F.round(F.col("_d"), round_digits).alias("adc_dist"))
    )


def pq_residual_encode(
    df: DataFrame,
    centroids: List[List[float]],
    codebooks: List[List[List[float]]],
    cell_col: str = "ivf_cell",
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
    method: str = "auto",
) -> DataFrame:
    """PQ-encode each vector's RESIDUAL against its IVF centroid (the
    IVFPQ layout: coarse cell + fine residual codes).  The centroid table
    rides in as one nested literal indexed by the cell column —
    ``element_at`` keeps the plan size O(1) in the number of cells — and
    the residual subtraction is a codegen ``zip_with``; encoding then
    reuses :func:`pq_encode` unchanged.  Null cells (null vectors) yield
    null codes."""
    cent_lit = _nested_double_lit(centroids)
    res = F.zip_with(
        F.col(vec_col),
        F.element_at(cent_lit, F.col(cell_col) + 1),
        lambda x, c: x - c,
    )
    encoded = pq_encode(
        df.withColumn("_res", res),
        codebooks,
        vec_col="_res",
        out_col=out_col,
        method=method,
    )
    return encoded.drop("_res")


def ivf_pq_topk(
    encoded: DataFrame,
    query_vector: Sequence[float],
    centroids: List[List[float]],
    codebooks: List[List[List[float]]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    cell_col: str = "ivf_cell",
    codes_col: str = "pq_codes",
    round_digits: int = 4,
) -> DataFrame:
    """IVFPQ search (the composed FAISS-style index): probe the ``nprobe``
    cells whose centroids are L2-closest to the query (driver-side — the
    centroid table is the model artifact), then rank ONLY those cells'
    rows by ADC over their residual codes, each probed cell using its own
    residual lookup table (``r_c = q - centroid_c``).

    Note the metric: the PQ family is squared-L2 throughout (probe AND
    rank), matching the Jegou et al. formulation — :func:`ivf_topk` is
    the spherical/cosine variant of the coarse index.  The scan reads
    only (id, cell, codes); the cell filter prunes to the probed cells
    (partition pruning under a cell-partitioned layout, exactly like the
    prebucketed LSH path), and the per-cell LUT dispatch is a codegen
    CASE over ``nprobe`` branches — independent of the total cell count.
    Ordering uses the unrounded distance (ties by id)."""
    q = [float(v) for v in query_vector]
    cell_d2 = [
        (sum((q[i] - c[i]) ** 2 for i in range(len(c))), cell)
        for cell, c in enumerate(centroids)
    ]
    probed = [cell for _, cell in sorted(cell_d2)[:nprobe]]
    m = len(codebooks)
    n_codes = len(codebooks[0])
    sub = len(codebooks[0][0])
    dist = F.lit(None).cast("double")
    for cell in probed:
        rq = [q[i] - centroids[cell][i] for i in range(len(q))]
        lut = [
            [
                sum((rq[s * sub + i] - codebooks[s][c][i]) ** 2 for i in range(sub))
                for c in range(n_codes)
            ]
            for s in range(m)
        ]
        lut_lit = _nested_double_lit(lut)
        cell_dist = F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, s: acc
            + F.element_at(
                F.element_at(lut_lit, s + 1),
                F.element_at(F.col(codes_col), s + 1) + 1,
            ),
        )
        dist = F.when(F.col(cell_col) == cell, cell_dist).otherwise(dist)
    return (
        encoded.filter(F.col(cell_col).isin(probed))
        .select(F.col(id_col), dist.alias("_d"))
        .orderBy(F.col("_d").asc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col), F.round(F.col("_d"), round_digits).alias("adc_dist"))
    )
