"""Skew handling for hot keys (north_star: "salting for skewed hosts").

Where skew actually bites in this engine, and the countermeasure used:

  * **hash aggregations** (``groupBy(host).agg``): Spark's partial
    (map-side) aggregation already collapses a hot host to one row per
    map task before the shuffle — no salting needed; verified in plans
    as ``HashAggregate(Partial) -> Exchange -> HashAggregate(Final)``.
  * **window dedup** (``row_number over (partition by keys)``): Spark 4
    inserts ``WindowGroupLimit(Partial)`` before the exchange for
    rank<=k filters, pre-pruning hot groups map-side.
  * **sort-merge joins**: AQE ``skewJoin`` splits oversized partitions
    at runtime (enabled in session.py).
  * **the residual case** — an aggregation whose per-group state is NOT
    map-side-collapsible (exact distinct counts, collect-style state) on
    a hot key — needs explicit two-stage salting, which
    ``salted_distinct_count`` provides.

``salted_distinct_count``: stage 1 aggregates on
(key, salt) — the hot key's rows spread over ``buckets`` reducers —
stage 2 merges the per-salt partials on the now-tiny keyspace.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_of(row_key: Column, buckets: int) -> Column:
    """Deterministic salt in [0, buckets) from any row-unique column."""
    return F.pmod(F.xxhash64(row_key), F.lit(buckets)).cast("int")


def salted_distinct_count(
    df: DataFrame,
    group_key: str,
    value_col: str,
    buckets: int = 16,
) -> DataFrame:
    """Exact count(distinct value) per group, skew-safe.

    A plain ``groupBy(key).agg(countDistinct(v))`` expands (no map-side
    collapse: the distinct set must survive to the reducer), so one hot
    key overloads one task. Two salted stages bound any task's input to
    ~|hot key| / buckets rows.
    """
    stage1 = (
        df.withColumn("_salt", salt_of(F.col(value_col), buckets))
        .groupBy(group_key, "_salt")
        .agg(F.count_distinct(value_col).alias("_partial"))
    )
    # distinct values are routed to salts by their own hash, so per-salt
    # distinct sets are disjoint: the final distinct count is the sum
    return stage1.groupBy(group_key).agg(
        F.sum("_partial").cast("long").alias("n_distinct")
    )

