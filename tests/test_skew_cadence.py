"""Cadence over pages (plain and salted host lag) and the IAT-score
kernel against its row-level reference."""

from __future__ import annotations

from data_quality_assessment_spark.operators import cadence
from tests.oracle import outlier_score, regularity_score


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
    """The frequency-table kernel (every IAT score the package ships,
    ``q_cadence_pandas`` included) and the row-level regularity and
    outlier reference agree exactly after the 6dp rounding; groups
    whose mode is 0 are exactly the kernel's NULL-regularity rows."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.RandomState(9)
    rows = []
    for e in range(12):
        t = 0.0
        for _ in range(60):
            t += float(rng.choice([30.0, 30.0, 30.0, 31.0, 600.0],
                                  p=[0.5, 0.2, 0.2, 0.05, 0.05]))
            rows.append((e, t))
    # a modal IAT of 0: no regularity row, and a MAD of 0
    rows += [(12, x) for x in (0.0, 0.0, 0.0, 5.0, 40.0)]
    df = spark.createDataFrame(rows, "user_id long, iat double")
    # treat 'iat' directly (already a lag-diff in this fixture)
    got = cadence.iat_freq_scores(df, ["user_id"]).select(
        "user_id", "n",
        F.round("regularity", 6).alias("reg_score"),
        F.round("outliers", 6).alias("out_score"),
    ).collect()
    assert {r.user_id: r.n for r in got} == {**{e: 60 for e in range(12)}, 12: 5}
    want_reg = {
        r.user_id: r.reg_score
        for r in regularity_score(df, "iat", ["user_id"]).collect()
    }
    want_out = {
        r.user_id: r.out_score
        for r in outlier_score(df, "iat", ["user_id"]).collect()
    }
    assert 12 not in want_reg
    assert {r.user_id: r.reg_score for r in got
            if r.reg_score is not None} == want_reg
    assert {r.user_id: r.out_score for r in got} == want_out


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
    """The bucketed-lag skew-safe twin must reproduce the plain
    host-partitioned lag's rows exactly, and both the row-level
    reference's — including the mega-host whose rows span many time
    buckets, MAD interpolation (even and odd clean counts) and the
    single-page host."""
    from pyspark.sql import functions as F

    from data_quality_assessment_spark.functions.textstats import host_of
    from data_quality_assessment_spark.plans.pipeline import (
        host_cadence,
        host_cadence_salted,
    )

    pages = _skewed_pages(spark)
    fused = _rows_of(host_cadence(pages))
    d = pages.select(host_of(F.col("url")).alias("host"), "warc_ts")
    iat = cadence.with_iat(d, "host", "warc_ts")
    ref = (
        d.groupBy("host").agg(F.count(F.lit(1)).alias("n_pages"))
        .join(regularity_score(iat, "iat", ["host"]), "host", "left")
        .join(outlier_score(iat, "iat", ["host"]), "host", "left")
    )
    assert fused == _rows_of(ref)
    # bucket width far smaller than the mega-host's span -> the lag
    # really crosses bucket boundaries
    salted = _rows_of(host_cadence_salted(pages, ts_bucket_sec=3600))
    assert salted == fused
    # and with a giant bucket (single bucket per host) as a degenerate
    # sanity case
    assert _rows_of(host_cadence_salted(pages, ts_bucket_sec=10**9)) == fused


def test_host_cadence_salted_no_hostwide_window_on_big_table(spark):
    """Plan shape: the salted variant's lag over raw rows partitions on
    (host, bucket), so no raw-row window is host-wide, and the big-table
    aggregations keep their map-side partial stage."""
    import re

    from data_quality_assessment_spark.plans.pipeline import (
        host_cadence_salted,
    )

    pages = _skewed_pages(spark)
    plan = (
        host_cadence_salted(pages, ts_bucket_sec=3600)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # Window [exprs], [partition keys], [order keys]
    specs = re.findall(r"Window \[lag\(_us#.*?\], \[([^\]]*)\], \[", plan)
    assert specs, plan
    for keys in specs:
        names = {k.strip().split("#")[0] for k in keys.split(",")}
        assert {"host", "_bkt"} <= names, (keys, plan)
    assert "HashAggregate" in plan
