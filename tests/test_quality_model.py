"""Logistic quality model: codegen-only scoring plan, sigmoid math,
and the pyspark.ml training seam round-tripping into the same scorer."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_quality_assessment_spark.functions import quality_model as qm


def test_score_matches_hand_math(spark):
    text = "the data and the page are open and fine today"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = qm.quality_model_score(df).collect()[0]
    feats = {
        "nw_sat": 10 / 110,
        "mean_wl": sum(len(w) for w in text.split()) / 10,
        "symbol_ratio": 0.0,
        "stopword_frac": sum(
            1 for w in text.split() if w in ("the", "and", "are", "a")
        ) / 10,  # approximate — replaced below by the engine's own value
        "dup_line_frac": 0.0,
    }
    # build the logit from the engine's OWN feature values to avoid
    # re-deriving the stopword list here
    fcols = qm.feature_cols(F.col("text"))
    got_feats = df.select(
        *[fcols[n].alias(n) for n in qm.DEFAULT_WEIGHTS]
    ).collect()[0].asDict()
    logit = qm.DEFAULT_BIAS
    for n in qm.DEFAULT_WEIGHTS:
        logit += got_feats[n] * qm.DEFAULT_WEIGHTS[n]
    assert row.qm_logit == pytest.approx(logit, abs=1e-6)
    assert row.qm_score == pytest.approx(1 / (1 + math.exp(-logit)), abs=1e-9)
    assert row.keep == (logit > 0)


def test_plan_is_pure_codegen(spark):
    df = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    plan = qm.quality_model_score(df)._jdf.queryExecution()\
        .executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan, plan
    assert "Exchange" not in plan, plan  # row-local: no shuffle at all


def test_training_seam_roundtrip(spark):
    """Separable synthetic labels (clean English vs symbol soup): the
    trained weights must classify the training set correctly THROUGH
    the production scorer."""
    good = [
        (i, 1, "the data page is open and the words are fine here today "
         * 3) for i in range(30)
    ]
    bad = [
        (100 + i, 0, "@@ ## $$ %% ^^ && ** (( )) !! ?? ;; :: " * 5)
        for i in range(30)
    ]
    df = spark.createDataFrame(
        good + bad, "doc_id long, label int, text string"
    )
    # fit the scorer's own features with pyspark.ml; the model never
    # ships to executors as an object, only its weights as floats
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    feats = qm.feature_cols(F.col("text"))
    names = list(qm.DEFAULT_WEIGHTS)
    tr = df.select(
        F.col("label").cast("double").alias("label"),
        *[feats[n].alias(n) for n in names],
    )
    model = LogisticRegression(
        featuresCol="features", labelCol="label", regParam=0.0
    ).fit(VectorAssembler(inputCols=names, outputCol="features").transform(tr))
    weights = dict(zip(names, model.coefficients.toArray().tolist()))
    bias = float(model.intercept)
    assert set(weights) == set(qm.DEFAULT_WEIGHTS)
    scored = qm.quality_model_score(
        df, weights=weights, bias=bias
    ).join(df.select("doc_id", "label"), "doc_id")
    acc = scored.filter(
        (F.col("keep") & (F.col("label") == 1))
        | (~F.col("keep") & (F.col("label") == 0))
    ).count() / 60
    assert acc >= 0.95, acc
