"""Benchmark decontamination: planted eval snippets are found exactly,
clean docs pass, the broadcast plan shape holds."""

from __future__ import annotations

from data_quality_assessment_spark.operators import decontaminate as dc


def _sentence(seed: str, n: int) -> str:
    return " ".join(f"{seed}{i}" for i in range(n))


def test_planted_contamination_found(spark):
    eval_snip = _sentence("evalword", 13)
    docs = spark.createDataFrame(
        [
            (1, _sentence("clean", 30)),
            (2, _sentence("prefix", 5) + " " + eval_snip + " "
             + _sentence("suffix", 4)),
            (3, eval_snip),                    # the snippet verbatim
            (4, _sentence("evalword", 12)),    # only 12 words: below n
            (5, None),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(eval_snip,), (_sentence("otherbench", 20),)], "text string"
    )
    got = {r.doc_id: r for r in dc.decontaminate(docs, bench).collect()}
    assert not got[1].contaminated and got[1].n_contaminated_grams == 0
    assert got[2].contaminated and got[2].n_contaminated_grams == 1
    assert got[3].contaminated
    assert not got[4].contaminated  # 12 < 13 words: no 13-gram exists
    assert not got[5].contaminated


def test_distinct_gram_counting(spark):
    """A doc repeating the same contaminated gram counts it ONCE
    (distinct doc grams), but distinct overlapping grams each count."""
    snip = _sentence("b", 14)  # 14 words -> two distinct 13-grams
    docs = spark.createDataFrame(
        [(1, snip + " filler " + snip)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(snip,)], "text string")
    r = dc.decontaminate(docs, bench).collect()[0]
    assert r.contaminated and r.n_contaminated_grams == 2


def test_broadcast_plan_shape(spark):
    docs = spark.createDataFrame(
        [(i, _sentence("w", 20)) for i in range(10)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(_sentence("w", 20),)], "text string")
    plan = dc.decontaminate(docs, bench)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
