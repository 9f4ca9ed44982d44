"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Exact dedup and the duplicate-count metric reimagine the reference's D1-D3
(``/root/reference/scripts/metricModules.py:95-99``,
``scripts/PreProcessing.py:85-94,217-224`` — SURVEY.md §2.3); the near-dup
family is the web-scale extension (training-data pipeline requirement).

Two hash families, chosen by ``fast``:

  * ``fast=False`` (parity): every hash is ``int64('0x' + md5(payload)[:15])``
    — computable identically in Spark (``conv(substr(md5(x),1,15),16,10)``)
    and DuckDB (``('0x' || substr(md5(x),1,15))::BIGINT``), so every
    operator here has an exact SQL oracle; pure codegen.
  * ``fast=True`` (production): XXH64 — one xxhash64 per shingle/word
    plus universal hashing, run as ONE Arrow-batched UDF node per
    operator by the vectorized numpy twin in ``functions/fasthash.py``
    (bit-identical to Spark's ``xxhash64`` HOF chains, which are
    CodegenFallback-interpreted; pinned by tests/test_fasthash.py).

Scale notes: no explode of shingles anywhere; the only shuffle is the
band-key self-join, which AQE handles (skewed bands = near-identical
boilerplate clusters; the band key is already high-cardinality).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import textstats as ts

# LSH geometry: 16 hashes, 8 bands of 2 → catches Jaccard >~0.6 pairs w.h.p.
N_HASHES = 16
BAND_SIZE = 2
N_BANDS = N_HASHES // BAND_SIZE
SHINGLE_K = 3  # fasthash.minhash_sigs_batch (the fast path) hardcodes k=3
SIMHASH_BITS = 32


def _h64(payload: Column) -> Column:
    """Cross-engine deterministic 60-bit hash (see module docstring)."""
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# fast (XXH64) family: one xxhash64 per shingle + universal hashing
# (a*h + b mod 2^31-1, see fasthash.minhash_sigs_batch) for the remaining
# minhashes — integer ops only, ~20x cheaper than per-hash md5 string math
# ---------------------------------------------------------------------------


def _uh_params(i: int, tag: str) -> tuple[int, int]:
    """Deterministic universal-hash coefficients (derived from md5 so they
    are stable across versions/processes; no RNG state)."""
    import hashlib

    a = int(hashlib.md5(f"{tag}:a:{i}".encode()).hexdigest()[:8], 16)
    b = int(hashlib.md5(f"{tag}:b:{i}".encode()).hexdigest()[:8], 16)
    return (a & 0x7FFFFFFF) | 1, b & 0x7FFFFFFF


# ---------------------------------------------------------------------------
# exact dedup + duplicate metric (reference D1/D2)
# ---------------------------------------------------------------------------


def dup_count_metric(df: DataFrame, keys: list[str]) -> DataFrame:
    """D1: one row (n_total, n_dupes, dupe_score). Reference counts
    ``len(df) - len(drop_duplicates(keys))`` on the RAW frame (Q9) and
    rounds to 3dp; here one groupBy shuffle instead of a full sort."""
    g = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_c"))
    return g.agg(
        F.sum("_c").cast("long").alias("n_total"),
        (F.sum("_c") - F.count(F.lit(1))).cast("long").alias("n_dupes"),
        F.round(F.lit(1.0) - (F.sum("_c") - F.count(F.lit(1))) / F.sum("_c"), 3).alias("dupe_score"),
    )


def dedup_exact(
    df: DataFrame, keys: list[str], tiebreak: Column | list[Column]
) -> DataFrame:
    """D2 with a deterministic winner (reference keeps first-in-file-order,
    which is nondeterministic under distribution — SURVEY.md §2.3). The
    single row_number-dedup implementation — ``pipeline.run_pipeline``
    and the driver's ``q_dedup_exact`` query both route here."""
    order = tiebreak if isinstance(tiebreak, list) else [tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def entity_dup_counts(
    df: DataFrame, entity: str, keys: list[str], *, sort_output: bool = True
) -> DataFrame:
    """D3: per-entity packet counts before vs after dedup; entities whose
    counts differ (reference drops equal ones,
    ``scripts/PreProcessing.py:217-224``).

    ``dropDuplicates(keys)`` picks a nondeterministic WINNER, but only
    the per-entity post-dedup COUNT survives, and the count is
    winner-invariant — one survivor per distinct key group regardless of
    which row wins (and ``entity`` is functionally determined by the key
    here: reference keys always include the id column). Callers needing
    a deterministic winner row route through :func:`dedup_exact`.

    ``sort_output=True`` reproduces the reference's sorted presentation
    (O2); pass False from re-aggregating callers — at 10^8 entities the
    global sort is a needless full range-shuffle.
    """
    if entity not in keys:
        # winner-invariance of the post count REQUIRES the key set to
        # determine the entity; enforce rather than assume (a violating
        # call would return run-to-run-varying counts)
        raise ValueError(
            f"entity column {entity!r} must be one of the dedup keys "
            f"{keys!r} — otherwise the per-entity post-dedup count "
            "depends on the nondeterministic dropDuplicates winner"
        )
    pre = df.groupBy(entity).agg(F.count(F.lit(1)).alias("n_pre"))
    post = (
        df.dropDuplicates(keys)
        .groupBy(entity)
        .agg(F.count(F.lit(1)).alias("n_post"))
    )
    out = pre.join(post, entity).filter(F.col("n_pre") != F.col("n_post"))
    return out.orderBy(entity) if sort_output else out


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


def _shingles(text: Column, k: int = SHINGLE_K) -> Column:
    """Word k-shingles (joined by single spaces); whole doc if < k words."""
    ws = ts.words(text)
    n = F.size(ws)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(ws, i, k)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", ws)))


_FAST_SIG_UDFS: dict = {}


def _minhash_fast_udf(n_hashes: int):
    """Memoized Arrow UDF: text -> array<long> minhash signature via the
    vectorized numpy XXH64 twin (functions/fasthash.py). Bit-identical
    to the HOF expression chain (pinned by tests/test_fasthash.py) at
    a fraction of its CodegenFallback interpretation cost (guide §4.2)."""
    key = ("mh", n_hashes)
    if key not in _FAST_SIG_UDFS:
        from pyspark.sql import types as T

        params = [_uh_params(i, "mh") for i in range(n_hashes)]

        @F.pandas_udf(T.ArrayType(T.LongType()))
        def sig_udf(
            batches: Iterator[pd.Series],
        ) -> Iterator[pd.Series]:
            from ..functions.fasthash import minhash_sigs_batch

            for texts in batches:
                sig = minhash_sigs_batch(
                    texts, n_hashes, lambda i: params[i]
                )
                yield pd.Series(list(sig))

        _FAST_SIG_UDFS[key] = sig_udf
    return _FAST_SIG_UDFS[key]


def _simhash_fast_udf(bits: int):
    """Memoized Arrow UDF twin of the simhash vote aggregate chain."""
    key = ("sh", bits)
    if key not in _FAST_SIG_UDFS:
        from pyspark.sql import types as T

        @F.pandas_udf(T.LongType())
        def sh_udf(
            batches: Iterator[pd.Series],
        ) -> Iterator[pd.Series]:
            from ..functions.fasthash import simhash_batch

            for texts in batches:
                yield pd.Series(simhash_batch(texts, bits))

        _FAST_SIG_UDFS[key] = sh_udf
    return _FAST_SIG_UDFS[key]


def with_minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = N_HASHES,
    fast: bool = True,
) -> DataFrame:
    """(id, sig: array<long>) — the efficient evaluation shape.

    fast=True (r6): ONE ArrowEvalPython node running the vectorized
    numpy XXH64 twin — the HOF expression chain is CodegenFallback
    (interpreted per element) and its n_hashes min-passes dominated the
    query wall; values are bit-identical (tests/test_fasthash.py).
    fast=False keeps the md5 expression family the DuckDB oracle
    reproduces. The pre-r6 HOF-expression lesson still applies to the
    md5 path: materialize the shingle array once between projections
    so no HOF re-evaluates its argument subtree.
    """
    if fast:
        return df.select(
            F.col(id_col),
            _minhash_fast_udf(n_hashes)(F.col(text_col)).alias("sig"),
        )
    # parity (md5) path: per-(shingle, i) hashes — materialize shingles once
    d = df.select(F.col(id_col), _shingles(F.col(text_col)).alias("_sh"))

    def _mk_md5(i: int):
        return lambda s: _h64(F.concat(s, F.lit(f"#{i}")))

    mins = [
        F.array_min(F.transform(F.col("_sh"), _mk_md5(i)))
        for i in range(n_hashes)
    ]
    return d.select(id_col, F.array(*mins).alias("sig"))


def minhash_bands(
    df: DataFrame, id_col: str, text_col: str, fast: bool = True
) -> DataFrame:
    """(id, band_idx, band_key) — one row per band per doc."""
    d = with_minhash_signature(df, id_col, text_col, fast=fast)
    sig = F.col("sig")
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band_idx"),
            F.concat_ws(
                ":", *[sig[b * BAND_SIZE + j].cast("string") for j in range(BAND_SIZE)]
            ).alias("band_key"),
        )
        for b in range(N_BANDS)
    ])
    return d.select(F.col(id_col), F.explode(bands).alias("b")).select(
        id_col, "b.band_idx", "b.band_key"
    )


def minhash_candidates(
    df: DataFrame, id_col: str, text_col: str, fast: bool = True,
    max_df: int | None = None,
) -> DataFrame:
    """Distinct candidate near-dup pairs (id_a < id_b) sharing any band.

    ``max_df`` caps how many documents may share one band key before
    the self-join: a giant identical-boilerplate cluster lands C docs
    on one band key and would emit C^2/2 pairs from that single key. A
    band past the cap still identifies a duplicate CLUSTER — it just
    doesn't need all-pairs evidence; capped pipelines handle such
    clusters via exact dedup (identical docs have identical content
    hashes) or by sampling the bucket. The filter is a count window
    over the join key, riding the join's own exchange — no extra
    shuffle. Default None keeps exact semantics for the oracle."""
    from pyspark.sql import Window

    b = minhash_bands(df, id_col, text_col, fast=fast)
    if max_df is not None:
        b = (
            b.withColumn(
                "_df",
                F.count(F.lit(1)).over(
                    Window.partitionBy("band_idx", "band_key")
                ),
            )
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    a = b.alias("a")
    c = b.alias("c")
    return (
        a.join(c, ["band_idx", "band_key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"c.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"c.{id_col}").alias("id_b"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def with_simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = SIMHASH_BITS,
    fast: bool = True,
) -> DataFrame:
    """(id, simhash) — fast=True (r6): one ArrowEvalPython node running
    the vectorized numpy XXH64 twin (bit-identical, see
    with_minhash_signature); fast=False keeps the md5 expression chain
    for the DuckDB oracle, with the word-hash array materialized once
    so the ``bits`` vote passes read a computed column (HOFs are
    CodegenFallback)."""
    if fast:
        return df.select(
            F.col(id_col),
            _simhash_fast_udf(bits)(F.col(text_col)).alias("simhash"),
        )
    ws = ts.words(F.col(text_col))
    d = df.select(F.col(id_col), F.transform(ws, _h64).alias("_h"))

    def _vote(j: int) -> Column:
        return F.aggregate(
            F.col("_h"),
            F.lit(0).cast("long"),
            lambda a, h: a + (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1),
        )

    acc = F.lit(0).cast("long")
    for j in range(bits):
        acc = acc + F.when(_vote(j) > 0, F.lit(2 ** j).cast("long")).otherwise(
            F.lit(0)
        )
    return d.select(id_col, acc.alias("simhash"))


# ---------------------------------------------------------------------------
# n-gram Jaccard (verification pass for candidates; exact, blocked)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    k: int = SHINGLE_K,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact Jaccard over distinct word k-shingles for all pairs within a
    block (e.g. same source/host, or an LSH band key). Returns
    (id_a, id_b, jaccard). The block keeps the self-join linear-ish; a
    global pairwise Jaccard at 10^12 docs is intentionally impossible."""
    sh = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col),
        F.array_distinct(_shingles(F.col(text_col), k)).alias("_sh"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a._sh"), F.col("b._sh")))
    union = F.size(F.array_union(F.col("a._sh"), F.col("b._sh")))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        a.join(b, F.col("a._blk") == F.col("b._blk"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


# ---------------------------------------------------------------------------
# near-dup CLUSTERS: candidates -> verify -> connected components -> winner
# (the step candidate-pair operators feed at corpus scale: transitive
# near-duplicates must collapse to ONE kept document per cluster)
# ---------------------------------------------------------------------------


def jaccard_for_pairs(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str,
    k: int = SHINGLE_K,
) -> DataFrame:
    """Exact shingle-Jaccard for GIVEN candidate pairs (id_a, id_b):
    two hash-joins against the per-doc distinct-shingle arrays — work is
    O(|pairs|), never all-pairs (the LSH/banding stage bounds |pairs|)."""
    sh = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(_shingles(F.col(text_col), k)).alias("_sh"),
    )
    j = (
        pairs.join(sh.withColumnRenamed("_id", "id_a")
                     .withColumnRenamed("_sh", "_sha"), "id_a")
        .join(sh.withColumnRenamed("_id", "id_b")
                .withColumnRenamed("_sh", "_shb"), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    union = F.size(F.array_union(F.col("_sha"), F.col("_shb")))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return j.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b",
    max_iter: int = 25, checkpoint_dir: str | None = None,
) -> DataFrame:
    """(vertex, component) for the undirected graph of ``edges``, where
    component = the smallest vertex id reachable (deterministic labels).

    Min-label propagation with POINTER JUMPING: each round takes the
    min over direct neighbors' labels AND re-resolves each label to its
    own current label (label[label[v]]), so label distances halve —
    convergence in O(log diameter) rounds, not O(diameter). Every round
    is hash-join + partial-agg (no windows, no driver-side graph).

    Lineage is cut per round. ``checkpoint_dir=None`` (single-node /
    testing) uses ``localCheckpoint`` — executor-block storage, lost on
    executor failure. On a real cluster PASS a reliable-store path
    (HDFS/S3): the per-round checkpoint then goes through
    ``DataFrame.checkpoint()`` and survives executor loss, which is
    mandatory at 100×-scale (a lost localCheckpoint block makes the
    lineage unrecoverable and kills the job).

    Near-dup clusters are overwhelmingly tiny (pairs/triples), so real
    corpora converge in 2-3 rounds; ``max_iter`` is a backstop, with a
    loud error rather than silently-wrong labels."""
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _cut(d: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return d.checkpoint(eager=True)
        return d.localCheckpoint(eager=True)

    e = edges.select(
        F.col(src).alias("v"), F.col(dst).alias("u")
    ).union(edges.select(F.col(dst).alias("v"), F.col(src).alias("u")))
    labels = e.select("v").distinct().withColumn("l", F.col("v"))
    for _ in range(max_iter):
        nbr = (
            e.join(labels.withColumnRenamed("v", "u"), "u")
            .groupBy("v").agg(F.min("l").alias("_nl"))
        )
        stepped = labels.join(nbr, "v", "left").select(
            "v",
            F.least(F.col("l"), F.coalesce("_nl", F.col("l"))).alias("l"),
        )
        # pointer jump: l <- label(l)
        jumped = (
            stepped.join(
                stepped.select(F.col("v").alias("l"),
                               F.col("l").alias("_ll")),
                "l", "left",
            )
            .select("v", F.coalesce("_ll", F.col("l")).alias("l"))
        )
        new_labels = _cut(jumped)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "v")
            .filter(F.col("n.l") != F.col("o.l"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select(F.col("v").alias("vertex"),
                                 F.col("l").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def near_dup_clusters(
    df: DataFrame, id_col: str, text_col: str,
    min_jaccard: float = 0.6, fast: bool = True,
    checkpoint_dir: str | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """The full near-dup pipeline: MinHash-band candidates -> exact
    Jaccard verification (>= min_jaccard) -> connected components ->
    (id, component, keep) where keep marks the cluster winner (smallest
    id — deterministic). Documents in no cluster keep=true trivially
    and are not returned (callers left-anti join to filter drops).

    Every stage is bounded: banding bounds the candidate count,
    verification is per-candidate work, components converge in
    O(log diameter) join rounds. No stage ever materializes all-pairs.
    ``max_df`` (see minhash_candidates) bounds the worst-case band
    bucket at web scale.
    """
    cand = minhash_candidates(df, id_col, text_col, fast=fast,
                              max_df=max_df)
    verified = jaccard_for_pairs(df, cand, id_col, text_col).filter(
        F.col("jaccard") >= min_jaccard
    )
    cc = connected_components(verified, checkpoint_dir=checkpoint_dir)
    # the component label IS the smallest reachable id, so the winner
    # test needs no window at all
    return cc.select(
        F.col("vertex").alias(id_col),
        "component",
        (F.col("vertex") == F.col("component")).alias("keep"),
    )
