"""Trainable quality-score model: logistic scorer over the heuristic
text features (the learned counterpart of the fixed drop-rule
thresholds — how production web-text filters are actually tuned once
labels exist).

The scoring plan is PURE CODEGEN: a left-to-right weighted sum of the
native textstats columns plus a sigmoid — no UDF, no model object on
the executors; weights travel as literals in the plan. Training is the
seam: a ``pyspark.ml`` LogisticRegression fitted on ``feature_cols`` of
any labeled frame gives plain floats that drop into the same
``score_cols`` (tests/test_quality_model.py round-trips one).
``DEFAULT_WEIGHTS`` are hand-set placeholder
coefficients (signs follow the drop rules: more words/stopwords up,
symbols/repetition down) — a real deployment replaces them with trained
values via config.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import textstats as ts

# feature name -> (column builder, weight). Order is the FOLD ORDER of
# the logit sum — frozen so the DuckDB oracle reproduces the arithmetic
# exactly (left-to-right, like every fold in this repo).
DEFAULT_WEIGHTS: dict[str, float] = {
    "nw_sat": 2.5,
    "mean_wl": 0.4,
    "symbol_ratio": -2.5,
    "stopword_frac": 3.0,
    "dup_line_frac": -2.0,
}
DEFAULT_BIAS: float = -2.2


def feature_cols(text: Column) -> dict[str, Column]:
    """The model's feature columns (native, SQL-twinned): saturating
    word count, mean word length, symbol ratio, stopword fraction,
    duplicate line fraction."""
    return {
        # saturating length feature nw/(nw+100): rational arithmetic
        # instead of log1p so the DuckDB oracle reproduces the logit
        # EXACTLY (transcendentals differ in the last ulp across libm
        # implementations; divisions do not)
        "nw_sat": ts.n_words(text).cast("double")
        / (ts.n_words(text).cast("double") + F.lit(100.0)),
        "mean_wl": ts.mean_word_len(text),
        "symbol_ratio": ts.symbol_word_ratio(text),
        "stopword_frac": ts.stopword_frac(text),
        "dup_line_frac": ts.dup_line_frac(text),
    }


def logit_col(
    text: Column,
    weights: dict[str, float] | None = None,
    bias: float | None = None,
) -> Column:
    """w . features + b as a flat codegen chain (bias first, then each
    term in DEFAULT_WEIGHTS order)."""
    w = weights if weights is not None else DEFAULT_WEIGHTS
    b = bias if bias is not None else DEFAULT_BIAS
    feats = feature_cols(text)
    acc: Column = F.lit(float(b))
    for name in DEFAULT_WEIGHTS:  # frozen order regardless of dict given
        if name in w:
            acc = acc + feats[name] * F.lit(float(w[name]))
    return acc


def score_cols(
    text: Column,
    weights: dict[str, float] | None = None,
    bias: float | None = None,
) -> tuple[Column, Column]:
    """(logit, probability) — probability = sigmoid(logit). Comparisons
    and top-k selections should use the LOGIT (monotone in probability,
    pure arithmetic — exactly reproducible across engines; exp() may
    differ in the last ulp between libm implementations)."""
    lg = logit_col(text, weights, bias)
    return lg, F.lit(1.0) / (F.lit(1.0) + F.exp(-lg))


def quality_model_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: dict[str, float] | None = None,
    bias: float | None = None,
    threshold_logit: float = 0.0,
) -> DataFrame:
    """(id, qm_logit, qm_score, keep) per document."""
    lg, prob = score_cols(F.col(text_col), weights, bias)
    return df.select(
        F.col(id_col),
        F.round(lg, 6).alias("qm_logit"),
        prob.alias("qm_score"),
        (lg > F.lit(threshold_logit)).alias("keep"),
    )

