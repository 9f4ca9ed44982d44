"""Similarity search over embedding columns (array<float>).

Training-data-pipeline extension (no reference analog — the reference
has no vector data). Three search paths:

  * ``cosine_topk`` — exact brute force: broadcast the query set, one
    pass over the corpus, top-k via window rank. The baseline and the
    rerank kernel.
  * ``lsh_topk`` — random-hyperplane LSH: sign-bit signature per
    vector (deterministic hyperplanes derived from the cross-engine
    md5 hash — no model state to broadcast), bucket equi-join between
    query and corpus signatures, exact cosine rerank inside buckets.
    At 10^12 rows the bucket join shuffles only (sig, id, vec) pairs
    and AQE handles bucket skew; brute force would be a full cross
    product and is intentionally impossible.
  * ``ivf_topk`` — IVF-flat: coarse codebook cells, nprobe cell join,
    exact rerank.

Hyperplane determinism: component j,i = (h64(f"hp:{j}:{i}") % 2001 -
1000)/1000 in [-1, 1] — reproducible in any engine, no RNG state.

One kernel. Every similarity number — cosine, hyperplane dots, IVF cell
dots — comes from an Arrow-batched pandas UDF that sums products in a
left-to-right fold starting from the first product (``_seq_fold_np``;
``_matrix_dots`` carries the same fold for all weight rows at once),
vectorized across the batch rows and sequential across components. That
is the fold order of the DuckDB oracle, so the sums are bit-identical to
it for finite inputs; numpy's own ``sum``/``matmul`` use pairwise/SIMD
summation, which rounds differently. The plan stays O(1) nodes at any
dim. A null vector, a ragged pair or a null component scores NULL, as the
SQL expression paths this kernel replaced did.

There are no literal-expression plans. A dim-expanded codegen
expression is O(dim) nodes per operator, O(|C| x dim) for IVF cells: at
the 64-dim x 16-centroid geometry of the driver queries the generated
method grows beyond janino's 64 KB limit, so Spark logs a compile error
and falls back to interpreted evaluation, and Catalyst's analysis of the
tree alone costs seconds of driver time (minutes at 768+ dims).
Interpreted higher-order folds (``zip_with`` + ``aggregate``) keep the
plan small but are ~100x slower per element.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _row_dims(*cols: pd.Series) -> np.ndarray:
    """Per row, the length that the row's arrays share; 0 where one of
    them is null or the lengths differ. The kernels stack only the rows
    of one length and give NULL for the rest, so a null or ragged
    vector yields a NULL score instead of failing the batch."""
    return np.fromiter(
        (
            len(vs[0]) if all(v is not None and len(v) == len(vs[0])
                              for v in vs) else 0
            for vs in zip(*(c.to_numpy() for c in cols))
        ),
        dtype=np.int64,
        count=len(cols[0]),
    )


def _stack_f64(series: pd.Series, rows: np.ndarray) -> np.ndarray:
    """The selected rows of a Series of equal-length float arrays ->
    (n, dim) float64."""
    return np.stack(series.to_numpy()[rows]).astype(np.float64)


def _seq_fold_np(mat: np.ndarray) -> np.ndarray:
    """Left-to-right sum over axis 1, starting from column 0 — the
    oracle's fold order. Vectorized across rows, sequential across
    components: dim passes over an (n,) accumulator instead of n*dim
    Python ops."""
    acc = mat[:, 0].copy()
    for i in range(1, mat.shape[1]):
        acc += mat[:, i]
    return acc


@F.pandas_udf(T.DoubleType())
def cosine(a: pd.Series, b: pd.Series) -> pd.Series:
    """Cosine similarity of two array columns, dot/(sqrt(na)*sqrt(nb)),
    every sum a left-to-right fold. NULL when either side is null or
    the two lengths differ; a null component arrives as NaN and so does
    its cosine, which leaves the UDF as NULL."""
    dims = _row_dims(a, b)
    out = np.full(len(dims), np.nan)
    for dim in np.unique(dims[dims > 0]):
        rows = dims == dim
        A = _stack_f64(a, rows)
        B = _stack_f64(b, rows)
        dot = _seq_fold_np(A * B)
        na = _seq_fold_np(A * A)
        nb = _seq_fold_np(B * B)
        out[rows] = dot / (np.sqrt(na) * np.sqrt(nb))
    return pd.Series(out)


def _matrix_dots(weights: list[list[float]]) -> Column:
    """vec -> array<double> of dot(vec, w_row) for every weight row;
    NULL for a null vector or one whose length is not the weights'.
    Fold order: left-to-right over components from the first product,
    as ``_seq_fold_np``, carried for all weight rows at once in one
    (n, n_rows) accumulator. Weight rows with exact-0.0 entries add
    ±0.0 terms, a no-op on a finite sum. The weight matrix is a plain
    closure constant: it ships once per executor in the serialized UDF,
    no model state."""
    W = np.asarray(weights, dtype=np.float64).T  # (dim, n_rows)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _dots(a: pd.Series) -> pd.Series:
        rows = _row_dims(a) == W.shape[0]
        A = _stack_f64(a, rows) if rows.any() else np.empty((0, W.shape[0]))
        acc = A[:, 0:1] * W[0:1, :]
        for i in range(1, A.shape[1]):
            acc = acc + A[:, i : i + 1] * W[i : i + 1, :]
        dots = iter(acc)
        return pd.Series([next(dots) if r else None for r in rows])

    return _dots


def _rerank_topk(
    pairs: DataFrame, k: int, id_col: str, vec_col: str,
    q_id_col: str, q_vec_col: str,
) -> DataFrame:
    """Exact-cosine rerank of candidate (query, corpus) rows:
    (q_id, id, cos, rank) for rank <= k per query, ordered by cos
    descending then id ascending. A query never matches itself."""
    scored = pairs.filter(F.col(q_id_col) != F.col(id_col)).select(
        F.col(q_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(q_vec_col)).alias("cos"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k per query: (q_id, vec_id, cos, rank). Queries are
    broadcast — the corpus side never shuffles."""
    return _rerank_topk(
        corpus.crossJoin(F.broadcast(queries)),
        k, id_col, vec_col, q_id_col, q_vec_col,
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-dup: (id_a, id_b, cos) for pairs within a
    block with cosine >= threshold. Blocking (a cluster id, an LSH
    bucket, a host) keeps the self-join linear-ish — an unblocked
    pairwise pass at 10^12 rows is intentionally impossible; compose
    with with_lsh_signature for the open-domain case."""
    side = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col),
        F.col(vec_col).alias("_v"),
    )
    a, b = side.alias("a"), side.alias("b")
    return (
        a.join(b, F.col("a._blk") == F.col("b._blk"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cosine(F.col("a._v"), F.col("b._v")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def hyperplane_weights(j: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane j, computed driver-side.

    Component i = (int64(md5(f"hp:{j}:{i}")[:15 hex]) % 2001 - 1000)/1000
    — the exact value the DuckDB oracle derives in SQL from the same md5,
    so signatures stay byte-comparable cross-engine while the Spark side
    ships constant weights, not per-row interpreted hash evaluation.
    """
    import hashlib

    out = []
    for i in range(dim):
        h = int(hashlib.md5(f"hp:{j}:{i}".encode()).hexdigest()[:15], 16)
        out.append((h % 2001 - 1000) / 1000.0)
    return out


def with_lsh_signature(
    df: DataFrame, vec_col: str, dim: int, n_planes: int = 16,
    out_col: str = "sig",
) -> DataFrame:
    """Adds the sign-bit signature column: bit j = 1 iff
    dot(vec, plane_j) > 0. The plane dots are MATERIALIZED as one UDF
    column before bit-packing — element references into the raw UDF
    expression would risk re-evaluating the kernel per bit (the
    HOF-CodegenFallback lesson, dedup.py)."""
    planes = [hyperplane_weights(j, dim) for j in range(n_planes)]
    d = df.withColumn("_pdots", _matrix_dots(planes)(F.col(vec_col)))
    acc = F.lit(0).cast("long")
    for j in range(n_planes):
        acc = acc + F.when(
            F.col("_pdots")[j] > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0))
    return d.withColumn(out_col, acc).drop("_pdots")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Approximate top-k: same-signature bucket join + exact rerank.

    Recall comes from bucket width (fewer planes = bigger buckets =
    better recall, more rerank work); multi-probe (flip one bit) is the
    standard extension — implemented here as probing the exact bucket
    plus all 1-bit neighbors of the query signature.
    """
    c = with_lsh_signature(corpus, vec_col, dim, n_planes, "sig")
    probes = F.array(
        F.col("q_sig"),
        *[
            F.col("q_sig").bitwiseXOR(F.lit(1 << j).cast("long"))
            for j in range(n_planes)
        ],
    )
    q = (
        with_lsh_signature(queries, q_vec_col, dim, n_planes, "q_sig")
        .withColumn("sig", F.explode(probes))
        .drop("q_sig")
    )
    pairs = c.join(q, "sig").dropDuplicates([q_id_col, id_col])
    return _rerank_topk(pairs, k, id_col, vec_col, q_id_col, q_vec_col)


# ---------------------------------------------------------------------------
# IVF-flat: coarse codebook -> inverted cells -> nprobe search -> rerank
# ---------------------------------------------------------------------------


def ivf_codebook(n_centroids: int, dim: int) -> list[list[float]]:
    """Deterministic training-free codebook (same md5 derivation as the
    LSH hyperplanes, namespaced "ivf:") — random directions partition the
    sphere into max-dot Voronoi cells. Cross-engine reproducible, so the
    DuckDB oracle derives the identical cells. A trained codebook (e.g.
    k-means centroids) drops into ``ivf_topk(codebook=)``."""
    import hashlib

    out = []
    for c in range(n_centroids):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"ivf:{c}:{i}".encode()).hexdigest()[:15], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        out.append(row)
    return out


def with_ivf_cell(
    df: DataFrame, vec_col: str, codebook: list[list[float]],
    out_col: str = "cell",
) -> DataFrame:
    """Adds the coarse-cell column: the index of the first max-dot
    centroid. The dots array is MATERIALIZED once (measured ~3x on the
    assignment stage vs the inline double reference — same
    CollapseProject behavior as the minhash signatures, see
    textstats.py module notes). The cell is non-nullable: a null or
    wrong-length vector (NULL dots) or one with a null component (NULL
    dot elements) gets cell -1, which no probe cell matches, so it drops
    out of the cell join as a NULL cell would. A join on a nullable cell
    makes Catalyst infer an IsNotNull filter and push it below this
    projection, which runs the dots kernel a second time per row."""
    d = df.withColumn("_dots", _matrix_dots(codebook)(F.col(vec_col)))
    return (
        d.withColumn(
            out_col,
            F.coalesce(
                (F.array_position(F.col("_dots"), F.array_max(F.col("_dots")))
                 - 1).cast("int"),
                F.lit(-1),
            ),
        )
        .drop("_dots")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    codebook: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF-flat ANN: corpus vectors live in exactly one coarse cell;
    each query probes its ``nprobe`` nearest cells (largest centroid
    dot, ties to the lower cell) and reranks with the exact cosine. At
    10^12 rows the cell equi-join shuffles only (cell, id, vec) and AQE
    splits hot cells; raising nprobe trades wall for recall (pinned vs
    the exact path in tests).

    Query and corpus cells come from the same dots kernel. The sorted
    probe array is MATERIALIZED as a column before element extraction —
    indexing into a fresh ``sort_array`` re-evaluates the sort per
    reference (CodegenFallback re-eval, measured 100x on HOFs)."""
    cb = codebook if codebook is not None else ivf_codebook(n_centroids, dim)
    c = with_ivf_cell(corpus, vec_col, cb)
    by_dot = F.transform(
        F.col("_cdots"),
        lambda d, i: F.struct((-d).alias("nd"), i.alias("c")),
    )
    q = (
        queries.withColumn("_cdots", _matrix_dots(cb)(F.col(q_vec_col)))
        .withColumn("_sorted", F.sort_array(by_dot))
        .withColumn("cell", F.explode(F.transform(
            F.slice("_sorted", 1, nprobe), lambda s: s["c"]
        )))
        .drop("_sorted", "_cdots")
    )
    return _rerank_topk(
        c.join(q, "cell"), k, id_col, vec_col, q_id_col, q_vec_col
    )
