"""Physical-plan regression tests: the flagship plan must keep the shape
SURVEY.md §4 promises — one shuffle (dedup), two Python boundaries, scans
pruned to the columns actually used."""

from __future__ import annotations

import pytest

from data_quality_assessment_spark.config import DEFAULT_CONFIG
from data_quality_assessment_spark.plans import pipeline as P
from data_quality_assessment_spark.sources.fixture_gen import gen_pages


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plan") / "pages.parquet")
    spark.createDataFrame(gen_pages(300, seed=21)).write.parquet(p)
    return p


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_one_shuffle_two_python_boundaries(spark, pages_path):
    df = spark.read.parquet(pages_path)
    out = P.pages_out(P.run_pipeline(df, DEFAULT_CONFIG))
    plan = _plan(out)
    assert plan.count("Exchange") == 1, plan  # dedup window only
    # ONE fused UDF node (annotate+scrub): a second chained node would
    # double the Python worker count per task (measured 3x per-core cost)
    assert plan.count("ArrowEvalPython") == 1, plan
    # dedup pre-prunes hot groups map-side before the shuffle
    assert "WindowGroupLimit" in plan, plan


def test_column_pruning_reaches_scan(spark, pages_path):
    df = spark.read.parquet(pages_path)
    narrow = df.select("url")
    plan = _plan(narrow)
    assert "ReadSchema: struct<url:string>" in plan, plan


def test_filter_pushdown_reaches_scan(spark, pages_path):
    from pyspark.sql import functions as F

    df = spark.read.parquet(pages_path).filter(F.col("lang") == "en")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path, pages_path):
    """Two tables bucketed on the join key join with NO Exchange
    (co-located join — the scale path when both sides outgrow
    broadcast)."""
    from pyspark.sql import functions as F

    from data_quality_assessment_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "bwh"))
    df = spark.read.parquet(pages_path).withColumn(
        "host", F.substring_index(F.substring_index("url", "://", -1), "/", 1)
    )
    wh.write_bucketed(df.select("host", "url"), "b_pages", ["host"], 8)
    wh.write_bucketed(
        df.groupBy("host").count(), "b_stats", ["host"], 8
    )
    try:
        j = wh.read_table("b_pages").join(
            wh.read_table("b_stats").hint("merge"), "host"
        )
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_pages")
        spark.sql("DROP TABLE IF EXISTS b_stats")


def test_host_stats_join_is_size_gated(spark, pages_path):
    """Per-host stats joined back to rows must NOT be statically
    broadcast (SURVEY.md §2.11 join #2: hosts can be ~10^8 at CC scale;
    VERDICT r1 "What's wrong" #1). Default: no hint — the static plan
    keeps a shuffled join (survives any cardinality) and AQE converts to
    broadcast-hash at runtime when the aggregated side is actually small.
    """
    from data_quality_assessment_spark.operators import cadence
    from pyspark.sql import functions as F

    df = spark.read.parquet(pages_path).withColumn(
        "host", F.substring_index(F.substring_index("url", "://", -1), "/", 1)
    )
    iat = cadence.with_iat(df, "host", "warc_ts")
    score = cadence.iat_freq_scores(iat, ["host"])
    # with the size threshold disabled, only a FORCED broadcast hint could
    # still produce a broadcast join — its absence proves the join is
    # size-driven (estimates statically, actual sizes via AQE at runtime),
    # i.e. it degrades to a shuffled join at 10^8-host cardinality
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(score)
        assert "BroadcastHashJoin" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    # with defaults, the small stat side broadcasts (statically or via AQE)
    score.collect()
    final = score._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, final


def test_scale_mode_six_metric_has_no_global_window(spark, pages_path):
    """Scale-mode report (global_order=False): every window is
    partitioned — no `WindowExec: No Partition Defined` hazard (VERDICT
    r1 next #6). Parity mode keeps the deliberate global lag (Q1)."""
    from pyspark.sql import functions as F

    from data_quality_assessment_spark.plans import report

    df = spark.read.parquet(pages_path).select(
        F.substring_index(F.substring_index("url", "://", -1), "/", 1)
        .alias("entity_id"),
        F.col("warc_ts").alias("observationDateTime"),
    )
    import re

    def n_global_windows(plan: str) -> int:
        # a PARTITIONED windowspecdefinition leads with bare partition
        # columns; a GLOBAL one starts straight with sort specs (ASC/DESC)
        n = 0
        for m in re.finditer(r"windowspecdefinition\(([^()]*)", plan):
            first = m.group(1).split(",")[0]
            if " ASC" in first or " DESC" in first:
                n += 1
        return n

    scale = report.six_metric_report(df, required=["entity_id",
                                                   "observationDateTime"],
                                     global_order=False)
    assert n_global_windows(_plan(scale)) == 0, _plan(scale)
    parity = report.six_metric_report(df, required=["entity_id",
                                                    "observationDateTime"],
                                      global_order=True)
    # parity mode deliberately keeps the one global lag window (Q1)
    assert n_global_windows(_plan(parity)) >= 1
    assert scale.columns == parity.columns
    assert scale.count() == 1


@pytest.mark.parametrize("global_order", [True, False])
def test_six_metric_report_subtree_runs_once(spark, pages_path, global_order):
    """Every IAT score derives from ONE frequency table whose exchange
    the later references reuse: the final AQE plan holds the IAT lag
    Window exactly once, no row_number Window (dedup is the dupe
    metric's (entity, ts) grouping) and no materialized-RDD scan (no
    localCheckpoint) — in parity and scale mode alike."""
    import re

    from pyspark.sql import functions as F

    from data_quality_assessment_spark.plans import report

    df = spark.read.parquet(pages_path).select(
        F.substring_index(F.substring_index("url", "://", -1), "/", 1)
        .alias("entity_id"),
        F.col("warc_ts").alias("observationDateTime"),
    )
    r = report.six_metric_report(
        df, required=["entity_id", "observationDateTime"],
        global_order=global_order,
    )
    r.collect()
    final = _plan(r).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final
    assert "row_number" not in final, final
    assert len(re.findall(r"\bWindow \[lag\(", final)) == 1, final
    assert "ExistingRDD" not in final, final


def test_sort_output_flags_drop_global_sort(spark):
    """entity_dup_counts / outage_by_entity embed the reference's
    presentation sort (O2). With sort_output=False the physical plan
    must contain no global Sort (no rangepartitioning shuffle) — the
    scale path for re-aggregating callers at 10^8 entities."""
    from pyspark.sql import functions as F

    from data_quality_assessment_spark.operators import cadence, dedup

    df = spark.range(200).select(
        (F.col("id") % 10).alias("ent"),
        (F.col("id") % 40).alias("k"),
        (F.col("id") % 7).cast("double").alias("iat"),
    )
    sorted_plan = _plan(dedup.entity_dup_counts(df, "ent", ["ent", "k"]))
    unsorted_plan = _plan(
        dedup.entity_dup_counts(df, "ent", ["ent", "k"], sort_output=False)
    )
    assert "rangepartitioning" in sorted_plan, sorted_plan
    assert "rangepartitioning" not in unsorted_plan, unsorted_plan

    sorted_plan = _plan(cadence.outage_by_entity(df, "ent"))
    unsorted_plan = _plan(
        cadence.outage_by_entity(df, "ent", sort_output=False)
    )
    assert "rangepartitioning" in sorted_plan, sorted_plan
    assert "rangepartitioning" not in unsorted_plan, unsorted_plan


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """An events table (user_id, ts) laid out as __spark_entry__ reads it."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(4)
    n = 400
    pdf = pd.DataFrame({
        "user_id": rng.randint(0, 12, n).astype("int64"),
        "ts": pd.Timestamp("2024-01-01")
        + pd.to_timedelta(rng.randint(0, 86_400, n), unit="s"),
    }).astype({"ts": "datetime64[us]"})
    d = tmp_path_factory.mktemp("events")
    pdf.to_parquet(d / "events.parquet", index=False)
    return str(d)


@pytest.mark.parametrize(
    "query",
    ["host_cadence", "q_iat_regularity", "q_iat_outliers",
     "q_cadence_pandas"],
)
def test_iat_scores_lag_runs_once(spark, pages_path, events_dir, query):
    """Every per-entity IAT score reads ONE frequency table whose
    exchange the kernel's three references reuse: the final AQE plan
    holds the raw-row lag Window exactly once (as the report does)."""
    import re

    import __spark_entry__ as entry

    if query == "host_cadence":
        df = P.host_cadence(spark.read.parquet(pages_path))
    else:
        df = getattr(entry, query)(spark, events_dir)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final
    assert len(re.findall(r"\bWindow \[lag\(", final)) == 1, final


def test_dup_ngram_coverage_two_exchanges(spark, pages_path):
    """dup_ngram_char_frac tags duplicates with a count WINDOW over the
    id partition (not a groupBy + self-join that recomputes the gram
    derivation for both sides): <= 3 exchanges — the doc-stats path,
    the distinct-ids spine, and their join alignment (the self-join
    form measured 6)."""
    from data_quality_assessment_spark.operators import repetition

    from pyspark.sql import functions as F

    df = spark.read.parquet(pages_path).select(
        F.xxhash64("url").alias("doc_id"), "text"
    )
    plan = _plan(repetition.dup_ngram_char_frac(df, 5))
    assert plan.count("Exchange") <= 3, plan
