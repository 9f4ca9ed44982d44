"""Vectorized XXH64 / minhash / simhash fast paths (r6) must be
BIT-identical to the Catalyst expression chains they replace."""

from __future__ import annotations

import random
import string

from pyspark.sql import functions as F

from data_quality_assessment_spark.functions.fasthash import _P31
from data_quality_assessment_spark.operators import dedup
from data_quality_assessment_spark.operators.dedup import (
    _shingles, _uh_params, N_HASHES, SIMHASH_BITS,
)

EDGE_TEXTS = [
    None, "", " ", "one", "two words", "three words here",
    "the data page is open and the crawl reads",
    "dup dup dup dup dup",
    "héllo wörld Привет мир 数据 质量 很好 here",
    "a\x0bb\tc\nd e f",
    "x " * 200,
    "".join(random.Random(7).choice(string.printable) for _ in range(300)),
]


def _pages(spark):
    from data_quality_assessment_spark.sources.fixture_gen import gen_pages_fast

    pdf = gen_pages_fast(300, seed=13)
    rows = [(i, t) for i, t in enumerate(pdf["text"])]
    rows += [(1000 + i, t) for i, t in enumerate(EDGE_TEXTS)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_xxh64_matches_spark(spark):
    import pyarrow as pa

    from data_quality_assessment_spark.functions.fasthash import xxh64_arrow

    rnd = random.Random(3)
    cases = [""] + [
        "".join(rnd.choice(string.printable) for _ in range(n))
        for n in list(range(1, 70)) + [127, 128, 200]
    ] + ["héllo wörld", "数据质量", "a b", "\x00\x01"]
    mine = xxh64_arrow(pa.array(cases, type=pa.string()))
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    ref = [r[0] for r in df.select(F.xxhash64("s")).collect()]
    assert [int(x) for x in mine] == ref


def _jvm_minhash_sig(df, n_hashes=N_HASHES):
    """The pre-r6 HOF expression chain, verbatim."""
    sh = _shingles(F.col("text"))
    base = F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_P31)))

    def _mk(a, b):
        return lambda h: F.pmod(h * a + b, F.lit(_P31))

    d = df.select(F.col("doc_id"), base.alias("_base"))
    mins = []
    for i in range(n_hashes):
        a, b = _uh_params(i, "mh")
        mins.append(F.array_min(F.transform(F.col("_base"), _mk(a, b))))
    return d.select("doc_id", F.array(*mins).alias("sig"))


def test_minhash_fast_udf_matches_expressions(spark):
    df = _pages(spark)
    got = {r.doc_id: list(r.sig)
           for r in dedup.with_minhash_signature(df, "doc_id", "text").collect()}
    want = {r.doc_id: list(r.sig) for r in _jvm_minhash_sig(df).collect()}
    assert got == want


def _jvm_simhash(df, bits=SIMHASH_BITS):
    from data_quality_assessment_spark.functions import textstats as ts

    ws = ts.words(F.col("text"))
    d = df.select(
        F.col("doc_id"),
        F.transform(ws, lambda w: F.xxhash64(w)).alias("_h"),
    )

    def _vote(j):
        return F.aggregate(
            F.col("_h"), F.lit(0).cast("long"),
            lambda a, h: a + (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1),
        )

    acc = F.lit(0).cast("long")
    for j in range(bits):
        acc = acc + F.when(_vote(j) > 0, F.lit(2 ** j).cast("long")).otherwise(
            F.lit(0)
        )
    return d.select("doc_id", acc.alias("simhash"))


def test_simhash_fast_udf_matches_expressions(spark):
    df = _pages(spark)
    got = {r.doc_id: r.simhash
           for r in dedup.with_simhash(df, "doc_id", "text").collect()}
    want = {r.doc_id: r.simhash for r in _jvm_simhash(df).collect()}
    assert got == want
