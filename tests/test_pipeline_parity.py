"""End-to-end flagship DAG vs the pandas oracle: exact keep/drop parity
(stronger than the F1>=0.99 north-rule target) and byte-identical scrub."""

from __future__ import annotations

import pandas as pd
import pytest

from data_quality_assessment_spark.plans.pipeline import (
    materialize_scrubbed,
    pages_out,
    run_pipeline,
)
from data_quality_assessment_spark.sources.fixture_gen import gen_pages
from tests.oracle import oracle_pipeline


def _merged(spark, batch_rows: int) -> pd.DataFrame:
    """Spark output at ``batch_rows`` rows per Arrow batch, outer-merged
    with the pandas oracle on url (every row on both sides)."""
    pdf = gen_pages(1200, seed=42)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(batch_rows))
    try:
        # materialize_scrubbed fills NULL-means-unchanged back to full
        # text (the sink path a consumer shipping bytes runs) — so the
        # byte-identity assertion below covers BOTH the kernel's scrubbed
        # output and the native-extraction coalesce twin
        out = pages_out(
            materialize_scrubbed(run_pipeline(spark.createDataFrame(pdf)))
        ).toPandas()
    finally:
        spark.conf.set(key, prev)
    ora = oracle_pipeline(pdf)
    m = out.merge(ora, on="url", suffixes=("_s", "_o"), how="outer", indicator=True)
    assert (m["_merge"] == "both").all()
    return m.sort_values("url").reset_index(drop=True)


@pytest.fixture(scope="module")
def result(spark):
    return _merged(spark, 4096)


def test_row_counts(result):
    assert len(result) > 0


def test_keep_exact_parity(result):
    assert (result["keep_s"] == result["keep_o"]).all()


def test_keep_f1(result):
    tp = ((result.keep_s) & (result.keep_o)).sum()
    fp = ((result.keep_s) & (~result.keep_o)).sum()
    fn = ((~result.keep_s) & (result.keep_o)).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99


def test_rules_fired_parity(result):
    neq = result.apply(
        lambda r: tuple(r["rules_fired_s"]) != tuple(r["rules_fired_o"]), axis=1
    )
    assert int(neq.sum()) == 0


def test_scrub_byte_identical(result):
    for _, r in result.iterrows():
        assert r["scrubbed_text_s"].encode("utf-8") == r["scrubbed_text_o"].encode("utf-8")


@pytest.mark.parametrize(
    "col",
    ["lang_pred", "lang_conf", "ppl", "quality_score", "nw", "mean_wl",
     "symbol_ratio", "stopword_frac", "dup_line_frac", "top_bigram_share"],
)
def test_column_parity(result, col):
    a, b = result[col + "_s"], result[col + "_o"]
    neq = (a != b) & ~(a.isna() & b.isna())
    assert int(neq.sum()) == 0


def test_small_arrow_batches_identical(spark, result):
    """Output does not depend on the Arrow batch size: 7-row batches
    (odd tails in every partition) give exactly the 4096-row output the
    tests above pin to the oracle: keep, rules, scrub bytes and every
    column."""
    small = _merged(spark, 7)
    rules = ["rules_fired_s", "rules_fired_o"]
    pd.testing.assert_frame_equal(
        result.drop(columns=rules), small.drop(columns=rules),
        check_exact=True,
    )
    for c in rules:
        assert (result[c].map(tuple) == small[c].map(tuple)).all()


def test_dedup_permutation_invariant(spark):
    """Deterministic dedup: same winners regardless of input row order."""
    pdf = gen_pages(400, seed=11)
    a = pages_out(run_pipeline(spark.createDataFrame(pdf))).toPandas()
    shuffled = pdf.sample(frac=1.0, random_state=99).reset_index(drop=True)
    b = pages_out(run_pipeline(spark.createDataFrame(shuffled))).toPandas()
    a = a.sort_values("url").reset_index(drop=True)
    b = b.sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a.drop(columns=["rules_fired"]), b.drop(columns=["rules_fired"])
    )
    assert (a["rules_fired"].map(tuple) == b["rules_fired"].map(tuple)).all()
