"""Resumable execution: checkpoint table + per-partition lineage/metrics.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics ... without recomputing completed partitions".
Reference analog: none — the reference reruns from scratch (SURVEY.md
§4 'resumable execution'); this is new engineering, built from three
public Spark primitives:

  1. a deterministic work-unit key ``part_id = pmod(xxhash64(url), P)``
     (url-hash partitioning per BASELINE.json north_star);
  2. a literal ``NOT part_id IN (...)`` filter over the completed ids,
     collected once from the checkpoint table (at most P rows), to skip
     completed work — the persisted output never reads the checkpoint
     table it appends to at the end;
  3. **dynamic partition overwrite** for idempotent re-writes — a
     partially-written partition from a crashed run is replaced, never
     duplicated, so "checkpoint row written last" makes the whole unit
     transactional at the directory level.

The pipeline output is routed by ``repartition("part_id")`` before it
is persisted: every part_id lives in one cached partition, so each
table gets one file per part_id and the side tables (lineage, metrics
and the checkpoint's distinct ids) aggregate over the cache with no
Exchange of their own.

Tables written per run (all keyed by part_id, all written with
partition-overwrite so a crashed unit is REPLACED on resume — the
checkpoint row, written last, is the only append):

  * ``pages_out``   — the verdict+scrub output, partitioned by part_id
  * ``lineage``     — one row per (part_id, rule_id): fire counts
  * ``metrics``     — one row per part_id: n_docs, n_kept, keep_rate
  * ``checkpoint``  — one row per completed part_id, one file (written
    LAST, only after both side-table writes succeed)

Lineage and metrics are written at the same time, from two driver
threads that keep the caller's job group; the checkpoint waits for both.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig, DEFAULT_CONFIG
from ..sources.warehouse import Warehouse
from . import pipeline

PAGES_OUT = "pages_out"
LINEAGE = "lineage"
METRICS = "metrics"
CHECKPOINT = "checkpoint"


def with_part_id(df: DataFrame, num_parts: int) -> DataFrame:
    """Deterministic work-unit key from the url hash. Salting note: the
    hash already spreads a skewed host's pages uniformly — the skew we
    must handle separately is per-host *aggregation*, not this routing
    (operators/cadence.py handles that on its own keys)."""
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64("url"), F.lit(num_parts)).cast("int")
    )


def pending_work(
    df: DataFrame, wh: Warehouse, run_id: str
) -> tuple[DataFrame, set[int]]:
    """Drop completed part_ids for this run_id. Returns (pending rows,
    completed ids). The checkpoint side is tiny (<= num_parts rows):
    its ids are collected once and filtered as literals, so the pending
    plan never reads the checkpoint table again."""
    if not wh.exists(CHECKPOINT):
        return df, set()
    done = (
        wh.read(CHECKPOINT)
        .filter(F.col("run_id") == run_id)
        .select("part_id")
        .distinct()
    )
    done_ids = {r.part_id for r in done.collect()}
    if not done_ids:
        return df, set()
    pending = df.filter(~F.col("part_id").isin(sorted(done_ids)))
    return pending, done_ids


def lineage_rows(out: DataFrame) -> DataFrame:
    """Per (part_id, rule_id) fire counts + per-partition doc counts."""
    fired = out.select(
        "part_id", F.explode_outer("rules_fired").alias("rule_id")
    )
    return (
        fired.filter(F.col("rule_id").isNotNull())
        .groupBy("part_id", "rule_id")
        .agg(F.count(F.lit(1)).alias("n_fired"))
    )


def metrics_rows(out: DataFrame) -> DataFrame:
    return out.groupBy("part_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.round(F.avg(F.col("keep").cast("double")), 6).alias("keep_rate"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
    )


def run_resumable(
    spark: SparkSession,
    df: DataFrame,
    wh: Warehouse,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    *,
    num_parts: int | None = None,
    dedup: bool = True,
) -> dict[str, int]:
    """Run the flagship DAG over all not-yet-completed partitions.

    One Spark job processes every pending partition (no driver-side
    per-partition loop). The output is routed by part_id and persisted;
    commit order per the module docstring: pages_out, then lineage and
    metrics together, then the checkpoint (last, after both succeed).
    """
    num_parts = num_parts or cfg.num_partitions
    keyed = with_part_id(df, num_parts)
    pending, done_ids = pending_work(keyed, wh, cfg.run_id)

    n_pending_parts = num_parts - len(done_ids)
    if pending.isEmpty():
        return {"parts_done_prior": len(done_ids), "parts_run": 0}

    out = pipeline.run_pipeline(pending, cfg, dedup=dedup).select(
        "part_id", *pipeline.OUTPUT_COLUMNS
    )

    # route by part_id, then cache: pages_out + lineage + metrics +
    # checkpoint all read it, one file per part_id and no further Exchange
    out = out.repartition("part_id").persist()
    try:
        # every table before the checkpoint row uses partition OVERWRITE
        # keyed by part_id: a crash between any of these writes and the
        # checkpoint append means the resumed run REPLACES the partial
        # partitions instead of double-appending lineage/metrics rows
        # (which would double-count fire counts and doc totals downstream)
        wh.overwrite_partitions(out, PAGES_OUT, ["part_id"])
        # the two side tables at once, each thread in this job group; the
        # pool's exit waits for both before either failure is raised
        with ThreadPoolExecutor(2) as pool:
            writes = [
                pool.submit(
                    inheritable_thread_target(spark)(wh.overwrite_partitions),
                    rows, table, ["part_id"],
                )
                for rows, table in (
                    (lineage_rows(out), LINEAGE),
                    (metrics_rows(out), METRICS),
                )
            ]
        for w in writes:
            w.result()
        ck = (
            out.select("part_id")
            .distinct()
            .withColumn("run_id", F.lit(cfg.run_id))
            .withColumn("status", F.lit("done"))
            .coalesce(1)
        )
        wh.append(ck, CHECKPOINT)
        return {
            "parts_done_prior": len(done_ids),
            "parts_run": n_pending_parts,
        }
    finally:
        out.unpersist()
