"""Resume semantics (SURVEY.md §5.2.5): pre-seeded checkpoint partitions
are not recomputed; resumed output equals a cold run."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from data_quality_assessment_spark.config import DEFAULT_CONFIG
from data_quality_assessment_spark.plans import resumable
from data_quality_assessment_spark.sources.fixture_gen import gen_pages
from data_quality_assessment_spark.sources.warehouse import Warehouse

N_PARTS = 8


@pytest.fixture(scope="module")
def pages(spark):
    pdf = gen_pages(400, seed=11)
    return spark.createDataFrame(pdf)


def _sorted_rows(df):
    return sorted(
        tuple(r) for r in df.select("url", "warc_ts", "keep", "scrubbed_text")
        .collect()
    )


def test_cold_run_writes_all_tables(spark, tmp_path, pages):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    res = resumable.run_resumable(spark, pages, wh, num_parts=N_PARTS)
    assert res["parts_done_prior"] == 0
    out = wh.read(resumable.PAGES_OUT)
    assert out.count() > 0
    assert set(r.part_id for r in wh.read(resumable.CHECKPOINT).collect()) \
        == set(r.part_id for r in out.select("part_id").distinct().collect())
    lin = wh.read(resumable.LINEAGE)
    assert {"part_id", "rule_id", "n_fired"} <= set(lin.columns)
    met = wh.read(resumable.METRICS)
    assert met.count() == out.select("part_id").distinct().count()
    # metrics consistency: sum over partitions == total rows
    assert met.agg(F.sum("n_docs")).collect()[0][0] == out.count()


def test_resume_skips_completed_and_matches_cold(spark, tmp_path, pages):
    cold_wh = Warehouse(spark, str(tmp_path / "cold"))
    resumable.run_resumable(spark, pages, cold_wh, num_parts=N_PARTS)
    cold = _sorted_rows(cold_wh.read(resumable.PAGES_OUT))

    # interrupted run: only partitions {0,1,2} completed
    warm_wh = Warehouse(spark, str(tmp_path / "warm"))
    keyed = resumable.with_part_id(pages, N_PARTS)
    first = keyed.filter(F.col("part_id") < 3)
    out1 = resumable.run_resumable(
        spark, first.drop("part_id"), warm_wh, num_parts=N_PARTS
    )
    assert out1["parts_done_prior"] == 0
    done1 = {r.part_id for r in warm_wh.read(resumable.CHECKPOINT).collect()}
    assert done1 == {0, 1, 2}

    # resume with the FULL input: completed partitions must be skipped
    res = resumable.run_resumable(spark, pages, warm_wh, num_parts=N_PARTS)
    assert res["parts_done_prior"] == 3
    # no completed partition recomputed: lineage rows for parts 0-2 appear
    # exactly once per rule (appended once)
    lin = warm_wh.read(resumable.LINEAGE).filter(F.col("part_id") < 3)
    dupes = (
        lin.groupBy("part_id", "rule_id").count().filter("count > 1").count()
    )
    assert dupes == 0
    # final output identical to the cold run
    assert _sorted_rows(warm_wh.read(resumable.PAGES_OUT)) == cold


def test_rerun_is_idempotent(spark, tmp_path, pages):
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    resumable.run_resumable(spark, pages, wh, num_parts=N_PARTS)
    first = _sorted_rows(wh.read(resumable.PAGES_OUT))
    res = resumable.run_resumable(spark, pages, wh, num_parts=N_PARTS)
    assert res["parts_run"] == 0
    assert _sorted_rows(wh.read(resumable.PAGES_OUT)) == first


def test_crash_before_checkpoint_replaces_not_duplicates(spark, tmp_path, pages):
    """Crash simulation (VERDICT r1 next #10 + ADVICE #1): pages_out,
    lineage, and metrics written for some partitions but the run dies
    BEFORE the checkpoint append. The resumed run must replace those
    partial partitions — identical final tables to a cold run, no
    double-counted lineage/metrics."""
    wh = Warehouse(spark, str(tmp_path / "crash"))
    cfg = DEFAULT_CONFIG
    keyed = resumable.with_part_id(pages, N_PARTS)

    # partial run over parts {0,1}: write every table EXCEPT checkpoint
    partial = keyed.filter(F.col("part_id") < 2)
    from data_quality_assessment_spark.plans import pipeline

    out = pipeline.run_pipeline(partial, cfg).select(
        "part_id", *pipeline.OUTPUT_COLUMNS
    )
    wh.overwrite_partitions(out, resumable.PAGES_OUT, ["part_id"])
    wh.overwrite_partitions(
        resumable.lineage_rows(out), resumable.LINEAGE, ["part_id"]
    )
    wh.overwrite_partitions(
        resumable.metrics_rows(out), resumable.METRICS, ["part_id"]
    )
    # no checkpoint row -> resume must recompute parts 0-1 and REPLACE

    res = resumable.run_resumable(spark, pages, wh, num_parts=N_PARTS)
    assert res["parts_done_prior"] == 0

    cold_wh = Warehouse(spark, str(tmp_path / "cold2"))
    resumable.run_resumable(spark, pages, cold_wh, num_parts=N_PARTS)

    assert _sorted_rows(wh.read(resumable.PAGES_OUT)) == _sorted_rows(
        cold_wh.read(resumable.PAGES_OUT)
    )
    for table in (resumable.LINEAGE, resumable.METRICS):
        got = sorted(tuple(r) for r in wh.read(table).collect())
        want = sorted(tuple(r) for r in cold_wh.read(table).collect())
        assert got == want, table


@pytest.fixture(scope="module")
def cold_wh(spark, tmp_path_factory, pages):
    """One cold run in the default test session, the reference the
    tests below compare against."""
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("cold") / "wh"))
    resumable.run_resumable(spark, pages, wh, num_parts=N_PARTS)
    return wh


def _tables(wh):
    """Every row of each table, order-insensitive."""
    return {
        t: sorted(repr(tuple(r)) for r in wh.read(t).collect())
        for t in (resumable.PAGES_OUT, resumable.LINEAGE, resumable.METRICS,
                  resumable.CHECKPOINT)
    }


def _parquet_files(path):
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


@pytest.mark.parametrize("failing", [resumable.LINEAGE, resumable.METRICS])
def test_side_table_failure_writes_no_checkpoint(
    spark, tmp_path, pages, cold_wh, failing
):
    """Lineage and metrics are written from two threads: if either write
    fails, run_resumable raises and no checkpoint row exists, so a clean
    re-run recomputes every part and matches a cold run."""

    class FailingWarehouse(Warehouse):
        def overwrite_partitions(self, df, table, cols):
            if table == failing:
                raise RuntimeError(f"{table} write failed")
            super().overwrite_partitions(df, table, cols)

    root = str(tmp_path / "wh")
    with pytest.raises(RuntimeError, match=f"{failing} write failed"):
        resumable.run_resumable(
            spark, pages, FailingWarehouse(spark, root), num_parts=N_PARTS
        )
    wh = Warehouse(spark, root)
    assert not wh.exists(resumable.CHECKPOINT)

    res = resumable.run_resumable(spark, pages, wh, num_parts=N_PARTS)
    assert res == {"parts_done_prior": 0, "parts_run": N_PARTS}
    assert _tables(wh) == _tables(cold_wh)


def test_commit_layout_and_side_table_plans(spark, tmp_path, pages):
    """The output is routed by part_id before it is cached: one parquet
    file per part_id directory in every keyed table, one checkpoint file
    per run, and no Exchange above the cache in the side-table writes,
    which run in the caller's job group."""
    sc = spark.sparkContext
    plans, groups = {}, {}

    class PlanWarehouse(Warehouse):
        def overwrite_partitions(self, df, table, cols):
            plans[table] = df._jdf.queryExecution().executedPlan().toString()
            groups[table] = sc.getLocalProperty("spark.jobGroup.id")
            super().overwrite_partitions(df, table, cols)

    wh = PlanWarehouse(spark, str(tmp_path / "wh"))
    sc.setLocalProperty("spark.jobGroup.id", "resume-commit")
    try:
        resumable.run_resumable(spark, pages, wh, num_parts=N_PARTS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert set(groups.values()) == {"resume-commit"}, groups

    for table in (resumable.PAGES_OUT, resumable.LINEAGE, resumable.METRICS):
        parts = [d for d in os.listdir(wh.path(table)) if d.startswith("part_id=")]
        assert len(parts) == N_PARTS, table
        for d in parts:
            assert len(_parquet_files(os.path.join(wh.path(table), d))) == 1, (table, d)
    assert len(_parquet_files(wh.path(resumable.CHECKPOINT))) == 1

    for table in (resumable.LINEAGE, resumable.METRICS):
        above, cache, _ = plans[table].partition("InMemoryTableScan")
        assert cache, plans[table]
        assert "Exchange" not in above, plans[table]


@pytest.mark.parametrize("conf", [
    {"spark.sql.shuffle.partitions": "1"},
    {"spark.sql.shuffle.partitions": "7"},
    {"spark.sql.adaptive.enabled": "false"},
], ids=["shuffle1", "shuffle7", "aqe_off"])
def test_tables_invariant_to_shuffle_settings(spark, tmp_path, pages, cold_wh, conf):
    """The routing repartition follows spark.sql.shuffle.partitions and
    AQE; the rows of every table must not."""
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        wh = Warehouse(spark, str(tmp_path / "wh"))
        resumable.run_resumable(spark, pages, wh, num_parts=N_PARTS)
        got = _tables(wh)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert got == _tables(cold_wh)
