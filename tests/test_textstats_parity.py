"""Native-Column text stats == pure-Python twins (pinned tokenization spec)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_quality_assessment_spark.functions import textcore, textstats as ts
from data_quality_assessment_spark.sources.fixture_gen import gen_pages

TRICKY = [
    "",
    " ",
    "\t\n\r\f\x0b",
    "one",
    "a  b\tc\nd",
    "line one\nline one\n  line one  \n\nother",
    "#### $$$$ %%%% symbols @@ here",
    "the the the the",
    "ümlaut café naïve",  # non-ASCII letters, ASCII whitespace
    "word nbsp",  # NBSP is NOT whitespace by the pinned spec
    "trailing space ",
    "\n\n\n",
    "x " * 500,
    "The Quick BROWN fox AND the lazy dog",
]


@pytest.fixture(scope="module")
def texts():
    pdf = gen_pages(300)
    vals = [t for t in pdf["text"] if isinstance(t, str)] + TRICKY
    return vals


def _spark_stats(spark, vals):
    df = spark.createDataFrame(pd.DataFrame({"text": vals}))
    c = F.col("text")
    return df.select(
        "text",
        ts.n_words(c).alias("nw"),
        ts.mean_word_len(c).alias("mwl"),
        ts.symbol_word_ratio(c).alias("sym"),
        ts.stopword_frac(c).alias("swf"),
        ts.dup_line_frac(c).alias("dlf"),
        ts.is_blank(c).alias("blank"),
    ).toPandas()


def test_native_equals_python(spark, texts):
    got = _spark_stats(spark, texts)
    for _, r in got.iterrows():
        t = r["text"]
        assert r["nw"] == textcore.n_words(t), (t, r["nw"])
        assert r["mwl"] == pytest.approx(textcore.mean_word_len(t), abs=0), t
        assert r["sym"] == pytest.approx(textcore.symbol_word_ratio(t), abs=0), t
        assert r["swf"] == pytest.approx(textcore.stopword_frac(t), abs=0), t
        assert r["dlf"] == pytest.approx(textcore.dup_line_frac(t), abs=0), t
        py_blank = (t == "") or all(ch in " \t\n\r\f\x0b" for ch in t)
        assert bool(r["blank"]) == py_blank, t


def test_dup_line_frac_strip_class_differs(spark):
    """The one known twin difference: the JVM strips lines of the ASCII
    whitespace class only, textcore uses str.strip (NBSP, Unicode spaces
    and U+001C..U+001F too), so a line made of those characters counts
    as a line only in the JVM. Pinned so that either side changing its
    meaning fails here."""
    cases = [
        ("a\xa0\na\nb", 0.0, 1.0 - 2 / 3),
        ("x\u2003\nx", 0.0, 0.5),
        ("hello\x1c\nhello", 0.0, 0.5),
    ]
    got = _spark_stats(spark, [t for t, _, _ in cases])
    for (t, jvm, py), dlf in zip(cases, got["dlf"]):
        assert dlf == jvm, repr(t)
        assert textcore.dup_line_frac(t) == py, repr(t)


def test_host_of(spark):
    df = spark.createDataFrame(
        [("https://a.example.com/x/y",), ("http://b.io",), ("c.net/p",)], ["url"]
    )
    got = [r[0] for r in df.select(ts.host_of(F.col("url"))).collect()]
    assert got == ["a.example.com", "b.io", "c.net"]


def test_random_ascii_parity(spark):
    rng = np.random.RandomState(123)
    chars = list("abc DE\t\n.#@$%&*()[]{}12345-+=_ \f\x0b")
    vals = [
        "".join(rng.choice(chars, rng.randint(0, 120))) for _ in range(300)
    ]
    got = _spark_stats(spark, vals)
    for _, r in got.iterrows():
        t = r["text"]
        assert r["nw"] == textcore.n_words(t)
        assert r["mwl"] == pytest.approx(textcore.mean_word_len(t), abs=0)
        assert r["sym"] == pytest.approx(textcore.symbol_word_ratio(t), abs=0)
        assert r["swf"] == pytest.approx(textcore.stopword_frac(t), abs=0)
        assert r["dlf"] == pytest.approx(textcore.dup_line_frac(t), abs=0)


def test_normalize_url(spark):
    """URL canonicalization: case, default ports, fragments, tracking
    params, query ordering — and the invariants that must NOT change
    (non-default ports, path case, meaningful trailing slash)."""
    from data_quality_assessment_spark.functions.textstats import normalize_url

    cases = [
        ("HTTP://WWW.Example.COM:80/Path/To?b=2&utm_source=x&a=1#frag",
         "http://www.example.com/Path/To?a=1&b=2"),
        ("https://Example.com:443/", "https://example.com"),
        ("https://example.com:8443/x", "https://example.com:8443/x"),
        ("http://a.b/?utm_campaign=z&fbclid=123", "http://a.b"),
        ("https://x.y/p?z=1", "https://x.y/p?z=1"),
        ("https://x.y/p/", "https://x.y/p/"),
        ("http://host", "http://host"),
    ]
    df = spark.createDataFrame([(c,) for c, _ in cases], "url string")
    got = [
        r.n for r in df.select(
            normalize_url(F.col("url")).alias("n")
        ).collect()
    ]
    for (raw, want), g in zip(cases, got):
        assert g == want, raw
    # idempotent: normalizing a normalized url is a no-op
    df2 = spark.createDataFrame([(w,) for _, w in cases], "url string")
    got2 = [
        r.n for r in df2.select(
            normalize_url(F.col("url")).alias("n")
        ).collect()
    ]
    assert got2 == [w for _, w in cases]
