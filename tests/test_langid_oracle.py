"""The driver query ``q_langid`` (Spark, the fused enrich UDF) must agree
per doc_id with its DuckDB oracle ``ORACLE_LANGID`` — on the empty and
null edges, on script-vote ties (the tie-break order is the part the SQL
re-derives by hand), at the 0.30 script-share and 0.50 Latin-share
thresholds, and at every Arrow batch size (one batch, 15-row batches
with a partial tail, 1-row batches). The per-doc ``textcore.lang_id``,
the kernel's reference, is pinned against the same oracle directly."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from data_quality_assessment_spark.functions import textcore
from data_quality_assessment_spark.sources.fixture_gen import gen_pages_fast

CYR, DEVA, CJK, KANA = "д", "द", "数", "カ"

CASES = [
    None, "", " ", "   \t\n  ", "\x0b\x0c\r",
    "1234 5678 !!! ???",
    # script ties: deva > cyr > cjk when counts are equal
    f"{CYR * 3} {DEVA * 3}",
    f"{CYR * 3} {CJK * 3}",
    f"{DEVA * 2} {CJK * 2}",
    f"{CYR * 2} {DEVA * 2} {CJK * 2}",
    f"{KANA * 4} {CYR * 4}",
    f"{CJK} {KANA}",
    # the 0.30 script-share threshold: exactly at, just under
    f"{CYR * 3} abcdefg",
    f"{CYR * 3} abcdefgh",
    f"{DEVA * 3} {CYR * 3} abcdefghijkl",
    # the 0.50 Latin-share threshold with a non-winning script share
    f"{CYR * 3} {DEVA * 3} {CJK * 4} the and of is",
    f"{CYR * 3} {DEVA * 3} {CJK * 5} the and of is",
    # mixed Latin text: English stopwords, case, vocabulary, gibberish
    "the data is open and the crawl reads it",
    "THE AND OF TO IN",
    "The quality of the page is high привет",
    "xqzv bnmpl trwkj zzzq vvvx",
    "qwrt plmk the",
    "Ünïcödé wörds with ácçents and the of",
    "https://example.com/a?b=c the",
]


def _documents(tmp_path) -> pd.DataFrame:
    clean = list(gen_pages_fast(24, seed=5)["text"])
    texts = CASES + clean
    pdf = pd.DataFrame({
        "doc_id": pd.Series(range(len(texts)), dtype="int64"),
        "text": pd.Series(texts, dtype="object"),
    })
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    return pdf


def _duck_langid(sf_dir) -> dict[int, str]:
    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM read_parquet(?)",
        [str(sf_dir / "documents.parquet")],
    )
    rows = con.execute(entry.ORACLE_LANGID).fetchall()
    con.close()
    return dict(rows)


def _assert_matches(pdf, got, want):
    assert set(got) == set(want) == set(pdf["doc_id"])
    diff = {
        i: (pdf["text"][i], got[i], want[i])
        for i in want if got[i] != want[i]
    }
    assert not diff, diff
    # the cases reach every label the oracle can emit
    assert {"unk", "en", "xx_cyr", "xx_cjk", "xx_deva"} <= set(got.values())


@pytest.mark.parametrize("batch_rows", [10_000, 15, 1])
def test_q_langid_matches_duckdb_oracle(spark, tmp_path, batch_rows):
    import __spark_entry__ as entry

    pdf = _documents(tmp_path)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(batch_rows))
    try:
        got = {
            r.doc_id: r.lang_pred
            for r in entry.q_langid(spark, str(tmp_path)).collect()
        }
    finally:
        spark.conf.set(key, prev)
    _assert_matches(pdf, got, _duck_langid(tmp_path))


def test_scalar_langid_matches_duckdb_oracle(tmp_path):
    """The per-doc reference (``textcore.lang_id``) on the same cases,
    as ``q_langid`` feeds the kernel (null html: a null text is "")."""
    pdf = _documents(tmp_path)
    got = {
        i: textcore.lang_id(t if isinstance(t, str) else "")[0]
        for i, t in zip(pdf["doc_id"].tolist(), pdf["text"])
    }
    _assert_matches(pdf, got, _duck_langid(tmp_path))
