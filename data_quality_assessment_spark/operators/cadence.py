"""Inter-arrival-time (cadence) statistics — the reference's IAT metrics
re-expressed as shuffle-minimal native aggregations.

Reference semantics (SURVEY.md §2.5-2.6): sort by (entity, ts), lag-diff to
get IAT seconds (W1, ``/root/reference/scripts/PreProcessing.py:100-108``),
keep IAT>=0 (zeros kept, Q2), then
  * regularity (A8, ``scripts/metricModules.py:54-70``): relative absolute
    error vs the mode; good ``1-2*RAE`` when RAE<=0.5 else bad ``2*RAE``;
    score = good/(count+bad). The reference's per-row Python for-loop
    becomes a single ``sum(when(...))`` aggregation — no UDF.
  * outliers (A7, ``scripts/metricModules.py:78-88``): mode-centered MAD,
    ONE-SIDED modified z-score > 3.5 (Q4), denominator = post-clean count.
  * mode (A3, ``scripts/metricModules.py:55``): most frequent value,
    ties -> smallest (Q3). Spark's ``mode()`` does not pin tie order, so we
    use ``min(struct(-count, value))`` — one extra shuffle, deterministic.

:func:`iat_freq_scores` is the one implementation of mode, MAD,
regularity and the outlier share: the report, the per-user queries and
both host cadences call it. Scale notes: it collapses the IAT rows to a
per-(entity, iat) frequency table behind one exchange, so per-entity
state never materializes on the driver and the raw-row lag runs once.
Parity mode (``global_order=True``) reproduces quirk Q1 (the lag that
crosses entity boundaries) with a single unpartitioned window —
fixture-scale only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_iat(
    df: DataFrame,
    entity: str,
    ts: str,
    order_tiebreak: str | None = None,
    global_order: bool = False,
    strict_positive: bool = False,
) -> DataFrame:
    """Add ``iat`` (seconds, double): lag-difference of ts.

    Rows with negative IAT are masked to null (reference keeps >=0, Q2);
    the first row per entity has null IAT. Callers filter ``iat IS NOT
    NULL`` — mirroring the reference's dropna (P5).

    ``strict_positive=True`` is the P4 variant (``IAT > 0``,
    ``metricModules.py:22``): zeros masked too — same-timestamp arrivals
    drop out of the statistics instead of anchoring the mode at 0.
    """
    order = [F.col(ts)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    if global_order:
        w = Window.orderBy(F.col(entity), *order)
    else:
        w = Window.partitionBy(entity).orderBy(*order)
    # cast: parquet TIMESTAMP_NTZ -> TIMESTAMP (session tz is pinned UTC,
    # so the wall-clock micros are unchanged and unix_micros resolves)
    micros = F.unix_micros(F.col(ts).cast("timestamp"))
    prev = F.lag(micros).over(w)
    iat = (micros - prev) / F.lit(1_000_000.0)
    keep = iat > 0 if strict_positive else iat >= 0
    return df.withColumn("iat", F.when(keep, iat))


def mode_smallest(df: DataFrame, value: str, group: list[str] | None = None) -> DataFrame:
    """Exact mode with ties -> smallest value (Q3), per group or global.

    Two-stage aggregation: ``groupBy(group, value).count()`` (map-side
    partial combine) then ``min(struct(-count, value))`` — both shuffles
    are on small cardinality-reduced data.
    """
    group = group or []
    counts = df.groupBy(*group, value).agg(F.count(F.lit(1)).alias("_c"))
    pick = F.min(F.struct((-F.col("_c")).alias("nc"), F.col(value).alias("v")))
    out = counts.groupBy(*group).agg(pick.alias("_m"))
    return out.select(*group, F.col("_m.v").alias("mode"))


def _join_stat(df: DataFrame, stat: DataFrame, group: list[str]) -> DataFrame:
    """Join per-group stats (one row per group) back onto the rows.

    NO static broadcast hint for a grouped stat: its cardinality equals
    the group count, which the driver cannot know; at CC scale hosts ~
    10^8 rows and an unconditional broadcast OOMs the executors (VERDICT
    r1). AQE sees the stat side's ACTUAL size at runtime and converts to
    broadcast-hash when it is under
    ``spark.sql.autoBroadcastJoinThreshold``, else keeps a shuffled join
    with skew splitting — the size gate for free, at the right place.
    The global (no-group) case is one row by construction and always
    broadcasts.
    """
    if group:
        return df.join(stat, group)
    return df.crossJoin(F.broadcast(stat))


def iat_freq_scores(rows: DataFrame, group: list[str]) -> DataFrame:
    """Mode, MAD, regularity (A8) and outlier score (A7) per group of
    ``[group…, iat]`` rows; NULL ``iat`` is dropped (the reference's
    dropna, P5). Returns ``[group…,] n, mode, mad, regularity,
    outliers``, unrounded, where ``n`` is the clean IAT count.

    Every score depends only on the distinct iat value and its count,
    so the rows collapse to one ``(group…, iat, _c)`` frequency table
    and each score is a frequency-weighted aggregate over it: mode is
    the ``min(struct(-count, iat))`` pick (ties -> smallest, Q3); MAD is
    ``percentile(|iat - mode|, 0.5, count)`` — the same Percentile
    aggregate ``F.median`` runs over the expanded rows; regularity and
    the outlier share are weighted sums. Regularity is NULL when the
    mode is 0 (no defined relative error); a group with no clean IAT has
    no row (``group=[]``: one row of NULLs).

    The table is read three times (mode, MAD, scores).
    ``repartition(*group, "iat")`` puts one exchange on top of it, which
    the three references reuse, so the rows' upstream plan (sort, lag
    window, partial aggregate) runs once. With a group, or in the
    report's scale mode, it adds no shuffle: the aggregate's exchange
    and the repartition are one; in the report's parity mode the
    aggregate runs above the global lag's single partition, and this
    exchange is what the references reuse instead of re-running the lag.
    """
    freq = (
        rows.filter(F.col("iat").isNotNull())
        .groupBy(*group, "iat").agg(F.count(F.lit(1)).alias("_c"))
        .repartition(*group, "iat")
    )
    pick = F.min(F.struct((-F.col("_c")).alias("nc"), F.col("iat").alias("v")))
    mode = freq.groupBy(*group).agg(pick["v"].alias("mode"))
    dev = F.abs(F.col("iat") - F.col("mode"))
    # mode rides along with MAD, so the last pass joins ONE stat row.
    # max_by, not first: the mode is one value per group either way, but
    # reading _c keeps this read of the table identical to the others
    # when a caller drops mad (q_iat_regularity); otherwise column
    # pruning strips the count here and the exchange is not reused.
    stat = _join_stat(freq, mode, group).groupBy(*group).agg(
        F.max_by("mode", "_c").alias("mode"),
        F.percentile(dev, F.lit(0.5), F.col("_c")).alias("mad"),
    )
    j = _join_stat(freq, stat, group)
    c = F.col("_c").cast("double")
    rae = F.try_divide(dev, F.col("mode"))  # NULL when mode == 0
    modz = F.try_divide(0.6745 * (F.col("iat") - F.col("mode")), F.col("mad"))
    good = F.sum(F.when(rae <= 0.5, c * (1 - 2 * rae)).otherwise(F.lit(0.0)))
    cnt = F.sum(F.when(rae <= 0.5, c).otherwise(F.lit(0.0)))
    bad = F.sum(F.when(rae > 0.5, c * (2 * rae)).otherwise(F.lit(0.0)))
    # one-sided mod-z > 3.5 (Q4); NULL modz (mad == 0) is no outlier
    nout = F.sum(F.when((F.col("mad") > 0) & (modz > 3.5), c).otherwise(F.lit(0.0)))
    return j.groupBy(*group).agg(
        F.sum("_c").alias("n"),
        F.first("mode").alias("mode"),
        F.first("mad").alias("mad"),
        F.try_divide(good, cnt + bad).alias("regularity"),
        (1 - nout / F.sum(c)).alias("outliers"),
    )


def outage_by_entity(
    df: DataFrame, entity: str, iat_col: str = "iat", *, sort_output: bool = True
) -> DataFrame:
    """A10 (``scripts/PreProcessing.py:374-382``): IAT > 2*global-mean is an
    'outage'; sum outage seconds per entity, descending.

    The descending sort is the reference's presentation semantics (O2);
    pass ``sort_output=False`` from re-aggregating callers to skip the
    global range-shuffle at high entity cardinality."""
    clean = df.filter(F.col(iat_col).isNotNull())
    mean = clean.agg(F.avg(iat_col).alias("_mu"))
    j = clean.crossJoin(F.broadcast(mean))
    out = (
        j.filter(F.col(iat_col) > 2 * F.col("_mu"))
        .groupBy(entity)
        .agg(F.round(F.sum(iat_col), 6).alias("outage_sec"))
    )
    if sort_output:
        return out.orderBy(F.desc("outage_sec"), F.col(entity))
    return out


def iqr_fences(df: DataFrame, col: str, alpha: float = 1.5) -> DataFrame:
    """A5 (``scripts/PreProcessing.py:119-130``): exact quartiles, fences
    rounded to 3dp in the reference; we keep full precision + round at use."""
    return df.agg(
        F.percentile(col, F.lit(0.25)).alias("q1"),
        F.percentile(col, F.lit(0.75)).alias("q3"),
    ).select(
        "q1",
        "q3",
        (F.col("q1") - alpha * (F.col("q3") - F.col("q1"))).alias("lower"),
        (F.col("q3") + alpha * (F.col("q3") - F.col("q1"))).alias("upper"),
    )


def outlier_score_median(
    df: DataFrame, col: str, group: list[str] | None = None
) -> DataFrame:
    """A6 (``scripts/PreProcessing.py:398-400``): the plot-path variant —
    MEDIAN-centered MAD modified z-score, same one-sided > 3.5 test as
    the cited line. Returns [group,] out_score_med."""
    group = group or []
    clean = df.filter(F.col(col).isNotNull())
    med = clean.groupBy(*group).agg(F.median(col).alias("_med")) if group \
        else clean.agg(F.median(col).alias("_med"))
    j = _join_stat(clean, med, group)
    dev = j.withColumn("_absdev", F.abs(F.col(col) - F.col("_med")))
    mad = (
        dev.groupBy(*group).agg(
            F.median("_absdev").alias("_mad"), F.first("_med").alias("_med")
        )
        if group
        else dev.agg(F.median("_absdev").alias("_mad"), F.first("_med").alias("_med"))
    )
    j2 = _join_stat(clean, mad, group)
    modz = F.try_divide(0.6745 * (F.col(col) - F.col("_med")), F.col("_mad"))
    is_out = F.when((F.col("_mad") > 0) & (modz > 3.5), F.lit(1.0)).otherwise(F.lit(0.0))
    return j2.groupBy(*group).agg(
        F.round(1 - F.sum(is_out) / F.count(F.lit(1)), 6).alias("out_score_med")
    )


def minmax_scale(df: DataFrame, col: str, out_col: str = "scaled") -> DataFrame:
    """A11 (``metricModules.py:48-50``): min-max normalization to [0,1]
    — ``(x - min)/(max - min)``; a constant column scales to 0.0 (the
    sklearn MinMaxScaler degenerate-case behavior). The min/max pair is
    a one-row aggregate broadcast back onto the rows — no second shuffle.
    """
    mm = df.agg(F.min(col).alias("_mn"), F.max(col).alias("_mx"))
    j = df.crossJoin(F.broadcast(mm))
    scaled = F.when(
        F.col("_mx") > F.col("_mn"),
        (F.col(col) - F.col("_mn")) / (F.col("_mx") - F.col("_mn")),
    ).otherwise(F.lit(0.0))
    return j.withColumn(out_col, scaled).drop("_mn", "_mx")


def regularity_old(
    df: DataFrame, entity: str, iat_col: str = "iat"
) -> DataFrame:
    """The reference's RETIRED regularity variant
    (``metricModules.py:32-52`` — dead code in the generator, SURVEY.md
    Q5/§2.6 A11, provided for completeness): per-entity mode deviation
    ``mean(|x - mode|)`` (mode ties -> smallest, Q3), min-max scaled
    across entities, score = round(1 - mean(scaled), 3). One row.

    Deviation from the dead code's accidents: rows are cleaned with a
    real ``iat IS NOT NULL`` filter (the original's non-inplace
    ``dropna()`` did nothing — a bug, not a semantic).
    """
    clean = df.filter(F.col(iat_col).isNotNull())
    m = mode_smallest(clean, iat_col, [entity])
    j = _join_stat(clean, m, [entity])
    dev = j.groupBy(entity).agg(
        F.avg(F.abs(F.col(iat_col) - F.col("mode"))).alias("mode_deviation")
    )
    scaled = minmax_scale(dev, "mode_deviation", "norm_dev")
    return scaled.agg(
        F.round(F.lit(1.0) - F.avg("norm_dev"), 3).alias("reg_score_old")
    )


def moments(df: DataFrame, col: str) -> DataFrame:
    """A4/A12 full descriptive moments with EXPLICIT two-pass central-
    moment formulas (mean -> avg((x-mu)^k)) so any engine reproduces the
    exact arithmetic — library skewness/kurtosis definitions differ
    (pandas bias-corrected, Spark population, DuckDB sample)."""
    mu_df = df.agg(F.avg(col).alias("_mu"))
    j = df.crossJoin(F.broadcast(mu_df))
    d = F.col(col) - F.col("_mu")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.first("_mu"), 6).alias("mean"),
        F.round(F.sqrt(F.avg(d * d)), 6).alias("std_pop"),
        F.round(F.avg(d * d * d) / F.pow(F.avg(d * d), 1.5), 6).alias("skew_pop"),
        F.round(F.avg(d * d * d * d) / F.pow(F.avg(d * d), 2.0) - 3.0, 6).alias(
            "kurt_pop"
        ),
    )


def data_stats(df: DataFrame, col: str) -> DataFrame:
    """A4 descriptive stats (explicit moment formulas so the DuckDB oracle
    can reproduce them exactly — library skew/kurtosis definitions vary)."""
    mu = F.avg(col)
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(mu, 6).alias("mean"),
        F.round(F.median(col), 6).alias("median"),
        F.round(F.stddev_samp(col), 6).alias("std"),
        F.round(F.var_samp(col), 6).alias("var"),
        F.round(F.min(col), 6).alias("min"),
        F.round(F.max(col), 6).alias("max"),
    )
    return stats
