"""Similarity search over embedding columns (array<float>).

Training-data-pipeline extension (no reference analog — the reference
has no vector data). Two paths:

  * ``cosine_topk`` — exact brute force: broadcast the query set,
    all math in codegen (``zip_with`` + ``aggregate``), one pass over
    the corpus, top-k via window rank. The baseline and the rerank
    kernel.
  * ``lsh_topk`` — random-hyperplane LSH: sign-bit signature per
    vector (deterministic hyperplanes derived from the cross-engine
    md5 hash — no model state to broadcast), bucket equi-join between
    query and corpus signatures, exact cosine rerank inside buckets.
    At 10^12 rows the bucket join shuffles only (sig, id, vec) pairs
    and AQE handles bucket skew; brute force would be a full cross
    product and is intentionally impossible.

Hyperplane determinism: component j,i = (h64(f"hp:{j}:{i}") % 2001 -
1000)/1000 in [-1, 1] — reproducible in any engine, no RNG state.

Cost model (measured): the dim-expanded literal expressions compile to a
~4000-node plan that costs ~4 s of one-time driver analysis/codegen and
~0 per-row after that (80k rows ≈ 100 rows wall) — the right trade at
cluster scale, where a plan is built once and applied to 10^9+ rows.

That trade inverts at real embedding dims: 768-4096 dims mean 50k-250k
expression nodes per operator and the DRIVER chokes on analysis/codegen
before a single row flows. Every dim-taking entry point therefore gates
on ``VEC_UDF_DIM_THRESHOLD``: above it, the math moves into ONE
Arrow-batched pandas UDF doing the identical left-to-right fold in
numpy (vectorized across the batch rows, sequential across components —
bit-identical sums to the literal-expression chain and the DuckDB
oracle for finite inputs), so the plan stays O(1) nodes at any dim.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def _sum_chain(terms: list[Column]) -> Column:
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


# Above this dim the literal-expression paths switch to the vectorized
# pandas-UDF kernels: the literal plan is O(dim) expression nodes per
# operator (fine at the 64-dim test geometry, ~4s driver analysis; a
# 768-dim corpus would be ~50k nodes and minutes of driver time), while
# the UDF plan is O(1) nodes at any dim.
VEC_UDF_DIM_THRESHOLD = 128


def _use_vectorized(dim: int | None, vectorized: bool | None) -> bool:
    if vectorized is not None:
        return vectorized
    return dim is not None and dim >= VEC_UDF_DIM_THRESHOLD


def _stack_f64(series) -> "object":
    """pandas Series of fixed-width float arrays -> (n, dim) float64."""
    import numpy as np

    return np.stack(series.to_numpy()).astype(np.float64)


def _seq_fold_np(mat):
    """Left-to-right sum over axis 1 — the EXACT fold order of
    ``_sum_chain``/``_dot_literal`` and the DuckDB oracle (numpy's own
    ``sum``/``matmul`` use pairwise/SIMD summation, which rounds
    differently). Vectorized across rows, sequential across components:
    dim passes over an (n,) accumulator instead of n*dim Python ops."""
    acc = mat[:, 0].copy()
    for i in range(1, mat.shape[1]):
        acc += mat[:, i]
    return acc


def _cosine_vec_udf() -> Column:
    """(vec_a, vec_b) -> cosine, Arrow-batched; same expression order as
    the literal path: dot/(sqrt(na)*sqrt(nb)) with left-to-right sums."""
    @F.pandas_udf("double")
    def _cos(
        it: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        for a, b in it:
            A = _stack_f64(a)
            B = _stack_f64(b)
            dot = _seq_fold_np(A * B)
            na = _seq_fold_np(A * A)
            nb = _seq_fold_np(B * B)
            yield pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    return _cos


def cosine(
    a: Column, b: Column, dim: int | None = None,
    *, vectorized: bool | None = None,
) -> Column:
    """Cosine similarity. With ``dim`` known and below the threshold,
    flat codegen arithmetic (left-to-right, same fold order as the HOF
    path and the DuckDB oracle); at high dim (or ``vectorized=True``)
    one Arrow-batched numpy kernel with the same fold order; without
    ``dim``, interpreted HOF folds (any-dim fallback)."""
    if _use_vectorized(dim, vectorized):
        return _cosine_vec_udf()(a, b)
    if dim is not None:
        ad = [a[i].cast("double") for i in range(dim)]
        bd = [b[i].cast("double") for i in range(dim)]
        dot = _sum_chain([x * y for x, y in zip(ad, bd)])
        na = _sum_chain([x * x for x in ad])
        nb = _sum_chain([x * x for x in bd])
        return dot / (F.sqrt(na) * F.sqrt(nb))
    a, b = _to_double(a), _to_double(b)
    return _dot(a, b) / (_norm(a) * _norm(b))


def vec_norm(v: Column, dim: int) -> Column:
    """sqrt(sum v_i^2) with EXACTLY the fold order :func:`cosine` uses
    for its per-side norms — precompute this once on a broadcast query
    side and pass it to :func:`cosine_prenorm`: the product
    sqrt(na) * norm is bit-identical to cosine() evaluating both norms
    per row (same expression over the same values, evaluated once)."""
    vd = [v[i].cast("double") for i in range(dim)]
    return F.sqrt(_sum_chain([x * x for x in vd]))


def cosine_prenorm(a: Column, b: Column, b_norm: Column, dim: int) -> Column:
    """cosine(a, b) with b's norm supplied as a precomputed column —
    r6: the flat-codegen cosine spent half its per-row arithmetic
    recomputing the constant query-side norm (Catalyst cannot hoist an
    expression over a join column). Values bit-identical to
    :func:`cosine` (pinned by tests/test_similarity.py)."""
    ad = [a[i].cast("double") for i in range(dim)]
    bd = [b[i].cast("double") for i in range(dim)]
    dot = _sum_chain([x * y for x, y in zip(ad, bd)])
    na = _sum_chain([x * x for x in ad])
    return dot / (F.sqrt(na) * b_norm)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k per query: (q_id, vec_id, cos, rank). Queries are
    broadcast — the corpus side never shuffles; with ``dim`` known the
    query-side norm is precomputed on the (tiny) broadcast side
    (:func:`cosine_prenorm`) instead of per corpus row."""
    if dim is not None and not _use_vectorized(dim, None):
        q = queries.withColumn(
            "_qnorm", vec_norm(F.col(q_vec_col), dim)
        )
        j = corpus.crossJoin(F.broadcast(q))
        cos = cosine_prenorm(
            F.col(vec_col), F.col(q_vec_col), F.col("_qnorm"), dim
        )
    else:
        j = corpus.crossJoin(F.broadcast(queries))
        cos = cosine(F.col(vec_col), F.col(q_vec_col), dim)
    scored = j.select(
        F.col(q_id_col),
        F.col(id_col),
        cos.alias("cos"),
    ).filter(F.col(q_id_col) != F.col(id_col))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup: (id_a, id_b, cos) for pairs within a
    block with cosine >= threshold. Blocking (a cluster id, an LSH
    bucket, a host) keeps the self-join linear-ish — an unblocked
    pairwise pass at 10^12 rows is intentionally impossible; compose
    with lsh_signature for the open-domain case."""
    side = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col),
        _to_double(F.col(vec_col)).alias("_v"),
    )
    vectorized = _use_vectorized(dim, None)
    if not vectorized:
        # the Arrow kernel recomputes norms internally — only the
        # codegen pair-dot path needs _n carried through the join
        side = side.withColumn("_n", _norm(F.col("_v")))
    a, b = side.alias("a"), side.alias("b")
    if vectorized:
        # high dim: one Arrow kernel per pair row (recomputes the norms
        # inside — same fold order; the literal pair-dot would be O(dim)
        # plan nodes)
        cos = _cosine_vec_udf()(F.col("a._v"), F.col("b._v"))
    else:
        if dim is not None:  # flat codegen pair-dot for the hot loop
            dot = _sum_chain([
                F.col("a._v")[i] * F.col("b._v")[i] for i in range(dim)
            ])
        else:
            dot = _dot(F.col("a._v"), F.col("b._v"))
        cos = dot / (F.col("a._n") * F.col("b._n"))
    return (
        a.join(b, F.col("a._blk") == F.col("b._blk"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cos, 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def hyperplane_weights(j: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane j, computed driver-side.

    Component i = (int64(md5(f"hp:{j}:{i}")[:15 hex]) % 2001 - 1000)/1000
    — the exact value the DuckDB oracle derives in SQL from the same md5,
    so signatures stay byte-comparable cross-engine while the Spark side
    pays only literal multiply-adds (whole-stage codegen), not per-row
    interpreted hash evaluation.
    """
    import hashlib

    out = []
    for i in range(dim):
        h = int(hashlib.md5(f"hp:{j}:{i}".encode()).hexdigest()[:15], 16)
        out.append((h % 2001 - 1000) / 1000.0)
    return out


def _dot_literal(vec: Column, weights: list[float]) -> Column:
    """dot(vec, constant weights) as flat codegen arithmetic (no HOF —
    higher-order folds are interpreted and ~100x slower per element)."""
    terms = [
        vec[i].cast("double") * F.lit(w)
        for i, w in enumerate(weights)
        if w != 0.0
    ]
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


def _matrix_dots_vec_udf(weights: list[list[float]]) -> Column:
    """vec -> array<double> of dot(vec, w_row) for every weight row, one
    Arrow-batched kernel. Fold order: left-to-right over components
    (identical to ``_dot_literal``; weight rows including exact-0.0
    entries add ±0.0 terms the literal path skips — a no-op for finite
    inputs). The weight matrix is a plain closure constant: it ships
    once per executor in the serialized UDF, no model state."""
    W = np.asarray(weights, dtype=np.float64).T  # (dim, n_rows)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _dots(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for a in it:
            A = _stack_f64(a)  # (n, dim)
            acc = A[:, 0:1] * W[0:1, :]
            for i in range(1, A.shape[1]):
                acc = acc + A[:, i : i + 1] * W[i : i + 1, :]
            yield pd.Series(list(acc))

    return _dots


def lsh_signature(vec: Column, dim: int, n_planes: int = 16) -> Column:
    """Sign-bit signature: bit j = 1 iff dot(vec, plane_j) > 0.

    Literal-expression form (test geometry / low dims). High-dim callers
    use :func:`with_lsh_signature`, which gates to the vectorized kernel
    and materializes the dots before bit-packing."""
    acc = F.lit(0).cast("long")
    for j in range(n_planes):
        dot = _dot_literal(vec, hyperplane_weights(j, dim))
        acc = acc + F.when(dot > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0))
    return acc


def with_lsh_signature(
    df: DataFrame, vec_col: str, dim: int, n_planes: int = 16,
    out_col: str = "sig", *, vectorized: bool | None = None,
) -> DataFrame:
    """Adds the sign-bit signature column. In vectorized mode the plane
    dots are MATERIALIZED as one UDF column before bit-packing — element
    references into the raw UDF expression would risk re-evaluating the
    kernel per bit (the HOF-CodegenFallback lesson, dedup.py)."""
    if _use_vectorized(dim, vectorized):
        planes = [hyperplane_weights(j, dim) for j in range(n_planes)]
        d = df.withColumn("_pdots", _matrix_dots_vec_udf(planes)(F.col(vec_col)))
        acc = F.lit(0).cast("long")
        for j in range(n_planes):
            acc = acc + F.when(
                F.col("_pdots")[j] > 0, F.lit(1 << j).cast("long")
            ).otherwise(F.lit(0))
        return d.withColumn(out_col, acc).drop("_pdots")
    return df.withColumn(
        out_col, lsh_signature(F.col(vec_col), dim, n_planes)
    )


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
    j = c.join(q, "sig")
    scored = j.select(
        F.col(q_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(q_vec_col), dim).alias("cos"),
    ).filter(F.col(q_id_col) != F.col(id_col)).dropDuplicates(
        [q_id_col, id_col]
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# IVF-flat: coarse codebook -> inverted cells -> nprobe search -> rerank
# ---------------------------------------------------------------------------


def ivf_codebook(n_centroids: int, dim: int) -> list[list[float]]:
    """Deterministic training-free codebook (same md5 derivation as the
    LSH hyperplanes, namespaced "ivf:") — random directions partition the
    sphere into max-dot Voronoi cells. Cross-engine reproducible, so the
    DuckDB oracle derives the identical cells. A TRAINED codebook from
    ``train_ivf_codebook`` drops into the same argument."""
    import hashlib

    out = []
    for c in range(n_centroids):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"ivf:{c}:{i}".encode()).hexdigest()[:15], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        out.append(row)
    return out


def train_ivf_codebook(
    df: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[float]]:
    """K-means codebook via pyspark.ml (the production path: train on a
    sample, then the IVF plan below is identical). Returns plain lists so
    the codebook broadcasts as literals, not model state."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(array_to_vector(_to_double(F.col(vec_col))).alias("features"))
    model = KMeans(k=n_centroids, seed=seed, maxIter=20).fit(feats)
    return [list(map(float, c)) for c in model.clusterCenters()]


def _cell_dots(vec: Column, codebook: list[list[float]]) -> Column:
    return F.array(*[_dot_literal(vec, c) for c in codebook])


def with_ivf_cell(
    df: DataFrame, vec_col: str, codebook: list[list[float]],
    out_col: str = "cell", *, vectorized: bool | None = None,
) -> DataFrame:
    """Adds the coarse-cell column with the dots array MATERIALIZED once
    (measured ~3x on the assignment stage vs the inline double
    reference — same CollapseProject behavior as the minhash signatures,
    see textstats.py module notes). High dims gate to the vectorized
    kernel: |C| x |dim| literal nodes would choke driver analysis at
    768+ dims."""
    dim = len(codebook[0]) if codebook else 0
    if _use_vectorized(dim, vectorized):
        d = df.withColumn(
            "_dots", _matrix_dots_vec_udf(codebook)(F.col(vec_col))
        )
    else:
        d = df.withColumn("_dots", _cell_dots(F.col(vec_col), codebook))
    return (
        d.withColumn(
            out_col,
            (F.array_position(F.col("_dots"), F.array_max(F.col("_dots"))) - 1)
            .cast("int"),
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
    driver_probes: bool = True,
) -> DataFrame:
    """IVF-flat ANN: corpus vectors live in exactly one coarse cell;
    each query probes its ``nprobe`` nearest cells and reranks with the
    exact cosine. At 10^12 rows the cell equi-join shuffles only
    (cell, id, vec) and AQE splits hot cells; raising nprobe trades
    wall for recall (pinned vs the exact path in tests).

    The sorted probe array is MATERIALIZED as a column before element
    extraction — indexing into a fresh ``sort_array`` re-evaluates the
    sort per reference (CodegenFallback re-eval, measured 100x on
    HOFs)."""
    cb = codebook if codebook is not None else ivf_codebook(n_centroids, dim)
    c = with_ivf_cell(corpus, vec_col, cb)
    if driver_probes:
        # ANN query sets are small (they broadcast anyway): computing the
        # nprobe cells on the driver replaces a |C|x|dim| literal
        # expression tree per query row — whose Catalyst analysis cost
        # ~20 s — with microseconds of Python. The accumulation order is
        # the same left-to-right fold as _dot_literal/the SQL oracle, so
        # the probed cells are bit-identical to the expression path.
        rows = queries.select(q_id_col, q_vec_col).collect()
        probe_rows = []
        for r in rows:
            vec = [float(x) for x in r[q_vec_col]]
            dots = []
            for cent in cb:
                acc = 0.0
                for i, w in enumerate(cent):
                    if w != 0.0:
                        acc = acc + vec[i] * w
                dots.append(acc)
            for cell in sorted(range(len(cb)),
                               key=lambda j: (-dots[j], j))[:nprobe]:
                probe_rows.append((r[q_id_col], r[q_vec_col], cell))
        # derive the probe schema from the incoming queries frame so
        # string/int query ids and double-precision vectors round-trip
        # unchanged (a hardcoded "long, array<float>" DDL would fail or
        # silently narrow them)
        probe_schema = T.StructType([
            queries.schema[q_id_col],
            queries.schema[q_vec_col],
            T.StructField("cell", T.IntegerType()),
        ])
        q = corpus.sparkSession.createDataFrame(probe_rows, probe_schema)
    else:
        # expression path for LARGE query sets (distributed probe
        # computation); dots materialized once per row, then sorted.
        # High dims: dots come from the vectorized kernel instead of
        # |C| x |dim| literal nodes — the pair structs then reference
        # the MATERIALIZED array, same node count either way.
        dim_cb = len(cb[0]) if cb else 0
        if _use_vectorized(dim_cb, None):
            qd = queries.withColumn(
                "_cdots", _matrix_dots_vec_udf(cb)(F.col(q_vec_col))
            )
            pairs = F.array(*[
                F.struct(
                    (-F.col("_cdots")[i]).alias("nd"),
                    F.lit(i).cast("int").alias("c"),
                )
                for i in range(len(cb))
            ])
        else:
            qd = queries
            pairs = F.array(*[
                F.struct(
                    (-_dot_literal(F.col(q_vec_col), cent)).alias("nd"),
                    F.lit(i).cast("int").alias("c"),
                )
                for i, cent in enumerate(cb)
            ])
        q = (
            qd.withColumn("_sorted", F.sort_array(pairs))
            .withColumn("cell", F.explode(F.transform(
                F.slice("_sorted", 1, nprobe), lambda s: s["c"]
            )))
            .drop("_sorted")
            .drop("_cdots")
        )
    j = c.join(q, "cell")
    scored = j.select(
        F.col(q_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(q_vec_col), dim).alias("cos"),
    ).filter(F.col(q_id_col) != F.col(id_col))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
