"""Deterministic sampling for training-data curation.

A web-scale pipeline samples constantly — eval holdouts, ablation
subsets, per-language rebalancing, quick-look QA slices — and at
10^12 documents the sample must be:

  * **deterministic & seed-stable**: the same document lands in the
    same sample on every run, every partition layout, every executor
    count (resumability and train/eval splits both depend on it) —
    ``df.sample()``'s per-partition RNG gives NONE of this;
  * **join-free & shuffle-free**: selection is a pure per-row predicate
    on a hash of the document KEY, so it whole-stage-codegens into the
    scan and pushes no shuffle anywhere;
  * **disjoint across named splits**: ``split_of`` assigns every row to
    exactly one of a weighted set of buckets (train/val/test), so
    samples can never leak into each other.

The hash is ``xxhash64(key, seed)`` mapped to a uniform [0, 1) double
by dividing the unsigned-interpreted value by 2^64 — the same
construction every engine can reproduce (the DuckDB oracle uses the
identical md5-based variant for byte-parity; xxhash64 is the
production family, like the dedup operators' fast/oracle hash split).

No reference-repo analog (the reference processes whole files); this
is LLM-pipeline surface (SURVEY.md §6 scope).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# md5-based unit-interval hash: reproducible bit-for-bit in DuckDB
# (('0x' || substr(md5(..),1,15))::BIGINT / 2^60) — 60 bits of mantissa
# headroom keeps the double exact in both engines
_MD5_BITS = 60


def _unit_hash(key: Column, seed: int, fast: bool) -> Column:
    """Deterministic uniform [0,1) from a key column."""
    if fast:
        # xxhash64 is signed; shift to unsigned semantics by adding
        # 2^63 in double space after the cast
        h = F.xxhash64(key, F.lit(seed)).cast("double")
        return (h + F.lit(float(2 ** 63))) / F.lit(float(2 ** 64))
    h = F.conv(
        F.substring(F.md5(F.concat(key.cast("string"),
                                   F.lit(f"#s{seed}"))), 1, 15),
        16, 10,
    ).cast("bigint")
    return h.cast("double") / F.lit(float(1 << _MD5_BITS))


def stratified_sample(
    df: DataFrame, key_col: str, stratum_col: str,
    fractions: dict[str, float], default_fraction: float = 0.0,
    seed: int = 0, *, fast: bool = True,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing:
    keep 100% of low-resource languages, 5% of English). ``fractions``
    maps stratum values to keep-rates; unlisted strata get
    ``default_fraction``; ``fractions={}`` is a uniform sample. Selection
    stays a per-row codegen predicate (the fractions table becomes a CASE
    expression, not a join) — no shuffle, stable under repartitioning and
    executor count, and repeatable: the same (key, seed) is kept or
    dropped identically in every run."""
    frac = F.lit(float(default_fraction))
    expr = None
    for value, f in fractions.items():
        cond = F.col(stratum_col) == F.lit(value)
        expr = F.when(cond, F.lit(float(f))) if expr is None else (
            expr.when(cond, F.lit(float(f)))
        )
    frac = frac if expr is None else expr.otherwise(frac)
    return df.filter(_unit_hash(F.col(key_col), seed, fast) < frac)


def split_of(
    key: Column, weights: list[tuple[str, float]], seed: int = 0,
    *, fast: bool = True,
) -> Column:
    """Assign every row to exactly one named split by weighted hash
    buckets — ``[('train', .98), ('val', .01), ('test', .01)]`` —
    disjoint and exhaustive by construction (cumulative thresholds over
    one uniform hash), so train/val/test can never overlap and a
    document's split never changes across runs."""
    total = sum(w for _, w in weights)
    u = _unit_hash(key, seed, fast) * F.lit(float(total))
    expr = None
    acc = 0.0
    for name, w in weights[:-1]:
        acc += w
        cond = u < F.lit(float(acc))
        expr = F.when(cond, F.lit(name)) if expr is None else (
            expr.when(cond, F.lit(name))
        )
    last = F.lit(weights[-1][0])
    return last if expr is None else expr.otherwise(last)


def with_split(
    df: DataFrame, key_col: str, weights: list[tuple[str, float]],
    seed: int = 0, *, fast: bool = True,
) -> DataFrame:
    """``df`` plus a ``split`` column from :func:`split_of`."""
    return df.withColumn(
        "split", split_of(F.col(key_col), weights, seed, fast=fast)
    )
