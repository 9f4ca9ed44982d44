"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship quality DAG (dedup → langid/ppl
annotate → heuristic rules → PII/toxicity scrub → verdict) over the
sf0.001 documents table mapped into the Common-Crawl pages shape.

``queries()`` exposes every implemented operator from SURVEY.md §2 plus
the training-data-pipeline extensions (dedup family, similarity search,
text analysis); ``oracle_sql()`` gives the DuckDB-equivalent SQL. Both
sides alias columns identically and round floats to a fixed precision so
the driver's order-insensitive value-hash comparison is deterministic.

Cross-engine hash convention (SURVEY.md §2.3 / operators/dedup.py):
``int64('0x' + md5(payload)[:15])`` — verified byte-equal between Spark
``conv(substr(md5(x),1,15),16,10)`` and DuckDB
``('0x' || substr(md5(x),1,15))::BIGINT``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_quality_assessment_spark.config import DEFAULT_CONFIG
from data_quality_assessment_spark.functions import textstats as ts
from data_quality_assessment_spark.functions.textcore import (
    EMAIL_RE,
    STOPWORDS,
    SYMBOL_CLASS,
    WHITESPACE_CLASS,
    ENGLISH_LEXICON,
)
from data_quality_assessment_spark.operators import cadence, dedup
from data_quality_assessment_spark.plans import pipeline

# ---------------------------------------------------------------------------
# shared constants (same values on the Spark and DuckDB sides)
# ---------------------------------------------------------------------------

WS = WHITESPACE_CLASS  # r"[ \t\n\r\f\x0B]"
TOKEN_RE = ts.TOKEN_RE
TH = DEFAULT_CONFIG.thresholds

_SQL_WORDS = (
    "list_filter(regexp_split_to_array(coalesce(text,''), '" + WS + "+'), "
    "w -> w <> '')"
)
_SQL_STOPS = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"
_SQL_LEXICON = "[" + ", ".join(f"'{w}'" for w in sorted(ENGLISH_LEXICON)) + "]"
_SQL_H64 = "('0x' || substr(md5({x}),1,15))::BIGINT"


def _sql_shingles(k: int) -> str:
    """DuckDB twin of operators.dedup._shingles (word k-shingles)."""
    return (
        f"CASE WHEN len(w) >= {k} THEN "
        f"list_transform(generate_series(1, len(w)-{k - 1}), "
        f"i -> array_to_string(list_slice(w, i, i+{k - 1}), ' ')) "
        f"ELSE [array_to_string(w, ' ')] END"
    )


from data_quality_assessment_spark.session import ship_package as _ensure_shipped


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_shipped(spark)
    # TIMESTAMP_NTZ -> TIMESTAMP casts are session-tz-dependent; pin UTC
    # so IAT math matches the tz-naive DuckDB oracle under any harness
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the documents table into the pages shape (FIXTURES.md F6)."""
    d = _load(spark, sf_dir, "documents")
    return d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit("/"), F.col("doc_id")
        ).alias("url"),
        (
            F.to_timestamp(F.lit("2022-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id").cast("double"))
        ).alias("warc_ts"),
        F.col("text").cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full quality DAG over sf0.001 documents-as-pages."""
    _ensure_shipped(spark)
    pages = _pages(spark, "/root/testdata/sf0.001")
    return pipeline.pages_out(pipeline.run_pipeline(pages, DEFAULT_CONFIG))


# ---------------------------------------------------------------------------
# per-document text statistics (SURVEY.md §2.2/§2.7: P1, V1 decomposition)
# ---------------------------------------------------------------------------


def q_doc_textstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _load(spark, sf_dir, "documents")
    txt = F.col("text")
    return d.select(
        "doc_id",
        ts.n_words(txt).alias("n_words"),
        F.round(ts.mean_word_len(txt), 6).alias("mean_wl"),
        F.round(ts.symbol_word_ratio(txt), 6).alias("symbol_ratio"),
        F.round(ts.stopword_frac(txt), 6).alias("stopword_frac"),
        F.round(ts.dup_line_frac(txt), 6).alias("dup_line_frac"),
    )


ORACLE_DOC_TEXTSTATS = f"""
WITH t AS (
  SELECT doc_id, coalesce(text,'') AS txt, {_SQL_WORDS} AS w FROM documents
)
SELECT doc_id,
  len(w)::BIGINT AS n_words,
  round(CASE WHEN len(w) > 0
    THEN list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w)
    ELSE 0.0 END, 6) AS mean_wl,
  round(CASE WHEN len(w) > 0
    THEN len(regexp_extract_all(txt, '{SYMBOL_CLASS}'))::DOUBLE / len(w)
    ELSE 0.0 END, 6) AS symbol_ratio,
  round(CASE WHEN len(w) > 0
    THEN len(list_filter(w, x -> list_contains({_SQL_STOPS}, lower(x))))::DOUBLE / len(w)
    ELSE 0.0 END, 6) AS stopword_frac,
  round(CASE WHEN len(
      list_filter(list_transform(string_split(txt, chr(10)),
        l -> regexp_replace(regexp_replace(l, '^{WS}+', ''), '{WS}+$', '')),
      l -> l <> '')) > 0
    THEN 1.0 - len(list_distinct(
      list_filter(list_transform(string_split(txt, chr(10)),
        l -> regexp_replace(regexp_replace(l, '^{WS}+', ''), '{WS}+$', '')),
      l -> l <> '')))::DOUBLE
      / len(list_filter(list_transform(string_split(txt, chr(10)),
        l -> regexp_replace(regexp_replace(l, '^{WS}+', ''), '{WS}+$', '')),
      l -> l <> ''))
    ELSE 0.0 END, 6) AS dup_line_frac
FROM t
"""


# ---------------------------------------------------------------------------
# heuristic rule engine, SQL-expressible subset (SURVEY.md §2.7 V1→rules)
# ---------------------------------------------------------------------------


def q_doc_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _load(spark, sf_dir, "documents")
    txt = F.col("text")
    d = (
        d.withColumn("nw", ts.n_words(txt))
        .withColumn("mwl", ts.mean_word_len(txt))
        .withColumn("sym", ts.symbol_word_ratio(txt))
        .withColumn("swf", ts.stopword_frac(txt))
        .withColumn("dlf", ts.dup_line_frac(txt))
    )
    rules = [
        ("text_blank", ts.is_blank(txt)),
        ("too_short", F.col("nw") < TH.min_words),
        ("too_long", F.col("nw") > TH.max_words),
        ("mean_wl_low", F.col("mwl") < TH.min_mean_word_len),
        ("mean_wl_high", F.col("mwl") > TH.max_mean_word_len),
        ("symbol_ratio", F.col("sym") > TH.max_symbol_word_ratio),
        (
            "stopword_frac",
            (F.col("lang") == "en") & (F.col("swf") < TH.min_stopword_frac),
        ),
        ("dup_line", F.col("dlf") > TH.max_dup_line_frac),
        ("lang_declared", F.col("lang").isNull() | (F.col("lang") != "en")),
    ]
    tagged = F.array(
        *[F.when(cond, F.lit(rid)).otherwise(F.lit(None)) for rid, cond in rules]
    )
    fired = F.filter(tagged, lambda x: x.isNotNull())
    return d.select(
        "doc_id",
        (F.size(fired) == 0).alias("keep"),
        F.concat_ws(",", fired).alias("rules_csv"),
    )


ORACLE_DOC_RULES = f"""
WITH t AS (
  SELECT doc_id, text, lang, coalesce(text,'') AS txt, {_SQL_WORDS} AS w
  FROM documents
), s AS (
  SELECT doc_id, text, lang,
    len(w) AS nw,
    CASE WHEN len(w) > 0
      THEN list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w)
      ELSE 0.0 END AS mwl,
    CASE WHEN len(w) > 0
      THEN len(regexp_extract_all(txt, '{SYMBOL_CLASS}'))::DOUBLE / len(w)
      ELSE 0.0 END AS sym,
    CASE WHEN len(w) > 0
      THEN len(list_filter(w, x -> list_contains({_SQL_STOPS}, lower(x))))::DOUBLE / len(w)
      ELSE 0.0 END AS swf,
    CASE WHEN len(list_filter(list_transform(string_split(txt, chr(10)),
        l -> regexp_replace(regexp_replace(l, '^{WS}+', ''), '{WS}+$', '')),
        l -> l <> '')) > 0
      THEN 1.0 - len(list_distinct(list_filter(list_transform(string_split(txt, chr(10)),
        l -> regexp_replace(regexp_replace(l, '^{WS}+', ''), '{WS}+$', '')),
        l -> l <> '')))::DOUBLE
        / len(list_filter(list_transform(string_split(txt, chr(10)),
        l -> regexp_replace(regexp_replace(l, '^{WS}+', ''), '{WS}+$', '')),
        l -> l <> ''))
      ELSE 0.0 END AS dlf,
    (text IS NULL OR regexp_replace(txt, '{WS}+', '', 'g') = '') AS blank
  FROM t
), r AS (
  SELECT doc_id,
    list_filter([
      CASE WHEN blank THEN 'text_blank' END,
      CASE WHEN nw < {TH.min_words} THEN 'too_short' END,
      CASE WHEN nw > {TH.max_words} THEN 'too_long' END,
      CASE WHEN mwl < {TH.min_mean_word_len} THEN 'mean_wl_low' END,
      CASE WHEN mwl > {TH.max_mean_word_len} THEN 'mean_wl_high' END,
      CASE WHEN sym > {TH.max_symbol_word_ratio} THEN 'symbol_ratio' END,
      CASE WHEN lang = 'en' AND swf < {TH.min_stopword_frac} THEN 'stopword_frac' END,
      CASE WHEN dlf > {TH.max_dup_line_frac} THEN 'dup_line' END,
      CASE WHEN lang IS NULL OR lang <> 'en' THEN 'lang_declared' END
    ], x -> x IS NOT NULL) AS fired
  FROM s
)
SELECT doc_id, len(fired) = 0 AS keep,
  coalesce(array_to_string(fired, ','), '') AS rules_csv
FROM r
"""


# ---------------------------------------------------------------------------
# language identification — SQL twin of the enrich kernel's lang decision
# (per-doc reference: tests/oracle.py:lang_id) for Latin-script corpora
# plus the three script ranges (SURVEY.md §2.7 target stage)
# ---------------------------------------------------------------------------


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_assessment_spark.functions.udfs import enrich_udf

    d = _load(spark, sf_dir, "documents")
    ann = enrich_udf(F.lit(None).cast("binary"), F.col("text"))
    return d.select("doc_id", ann.lang_pred.alias("lang_pred"))


ORACLE_LANGID = f"""
WITH t AS (
  SELECT doc_id, coalesce(text,'') AS txt, {_SQL_WORDS} AS w FROM documents
), c AS (
  SELECT doc_id, txt, w,
    len(regexp_extract_all(txt, '[A-Za-z]')) AS latin,
    len(regexp_extract_all(txt, '[\\x{{0400}}-\\x{{04FF}}]')) AS cyr,
    len(regexp_extract_all(txt, '[\\x{{4E00}}-\\x{{9FFF}}\\x{{3040}}-\\x{{30FF}}]')) AS cjk,
    len(regexp_extract_all(txt, '[\\x{{0900}}-\\x{{097F}}]')) AS deva
  FROM t
), s AS (
  SELECT doc_id, w, latin, cyr, cjk, deva,
    (latin + cyr + cjk + deva) AS letters,
    -- tie-break mirrors Python max(counts, key=(count, key-string)):
    -- 'xx_deva' > 'xx_cyr' > 'xx_cjk', so deva wins ties with both and
    -- cyr wins ties with cjk
    CASE
      WHEN deva >= cjk AND deva >= cyr THEN deva
      WHEN cyr >= cjk THEN cyr
      ELSE cjk END AS best_cnt
  FROM c
)
SELECT doc_id,
  CASE
    WHEN letters = 0 THEN 'unk'
    WHEN best_cnt::DOUBLE / letters >= 0.30 THEN
      CASE
        WHEN deva >= cjk AND deva >= cyr THEN 'xx_deva'
        WHEN cyr >= cjk THEN 'xx_cyr'
        ELSE 'xx_cjk' END
    WHEN latin::DOUBLE / letters >= 0.50 THEN
      CASE WHEN least(1.0,
          0.6 * (CASE WHEN len(w) > 0 THEN
            len(list_filter(w, x -> list_contains({_SQL_LEXICON}, lower(x))))::DOUBLE / len(w)
            ELSE 0.0 END)
          + 1.5 * (CASE WHEN len(w) > 0 THEN
            len(list_filter(w, x -> list_contains({_SQL_STOPS}, lower(x))))::DOUBLE / len(w)
            ELSE 0.0 END)
          + 0.05) >= 0.20
        THEN 'en' ELSE 'unk' END
    ELSE 'unk'
  END AS lang_pred
FROM s
"""


# ---------------------------------------------------------------------------
# dedup family (SURVEY.md §2.3 D1-D3 + near-dup extensions)
# ---------------------------------------------------------------------------


def q_dup_count_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load(spark, sf_dir, "events")
    return dedup.dup_count_metric(e, ["user_id", "event_type"])


ORACLE_DUP_COUNT = """
SELECT count(*)::BIGINT AS n_total,
  (count(*) - count(DISTINCT (user_id, event_type)))::BIGINT AS n_dupes,
  round(1.0 - (count(*) - count(DISTINCT (user_id, event_type)))::DOUBLE
        / count(*), 3) AS dupe_score
FROM events
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load(spark, sf_dir, "events")
    kept = dedup.dedup_exact(e, ["user_id", "event_type"], F.col("event_id"))
    return kept.select("event_id")


ORACLE_DEDUP_EXACT = """
SELECT event_id FROM (
  SELECT event_id, row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY event_id) AS rn
  FROM events
) WHERE rn = 1
"""


def q_entity_dup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load(spark, sf_dir, "events")
    return dedup.entity_dup_counts(e, "user_id", ["user_id", "event_type"])


ORACLE_ENTITY_DUP = """
SELECT user_id, count(*)::BIGINT AS n_pre,
       count(DISTINCT event_type)::BIGINT AS n_post
FROM events GROUP BY user_id
HAVING count(*) <> count(DISTINCT event_type)
ORDER BY user_id
"""


def q_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fast=False: md5 hash family, byte-reproducible in the DuckDB oracle
    # (the production default is the xxhash64 universal-hash family)
    d = _load(spark, sf_dir, "documents")
    return dedup.minhash_bands(d, "doc_id", "text", fast=False)


def _oracle_minhash_bands() -> str:
    sig = ", ".join(
        "list_min(list_transform(sh, s -> "
        + _SQL_H64.format(x=f"s || '#{i}'")
        + f")) AS h{i}"
        for i in range(dedup.N_HASHES)
    )
    bands = ", ".join(
        f"({b}, h{b * dedup.BAND_SIZE}::VARCHAR || ':' || "
        f"h{b * dedup.BAND_SIZE + 1}::VARCHAR)"
        for b in range(dedup.N_BANDS)
    )
    return f"""
WITH t AS (
  SELECT doc_id, {_SQL_WORDS} AS w FROM documents
), sh AS (
  SELECT doc_id, {_sql_shingles(dedup.SHINGLE_K)} AS sh FROM t
), sig AS (
  SELECT doc_id, {sig} FROM sh
), b AS (
  SELECT doc_id, unnest([{bands}]) AS bk FROM sig
)
SELECT doc_id, bk[1]::INT AS band_idx, bk[2]::VARCHAR AS band_key FROM b
"""


def q_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _load(spark, sf_dir, "documents")
    return dedup.minhash_candidates(d, "doc_id", "text", fast=False)


def _oracle_minhash_candidates() -> str:
    return (
        "WITH bands AS ("
        + _oracle_minhash_bands()
        + """)
SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
FROM bands a JOIN bands c
  ON a.band_idx = c.band_idx AND a.band_key = c.band_key
WHERE a.doc_id < c.doc_id
"""
    )


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete near-dup pipeline with transitive clustering:
    band candidates -> exact Jaccard >= 0.6 -> connected components
    (min-label + pointer jumping, operators/dedup.py) -> deterministic
    winner. The oracle re-derives the clusters with a recursive
    transitive-closure CTE over the same verified edges — an
    ITERATIVE-algorithm oracle, not just an aggregation."""
    d = _load(spark, sf_dir, "documents")
    return dedup.near_dup_clusters(
        d, "doc_id", "text", min_jaccard=0.6, fast=False
    )


def _oracle_near_dup_clusters() -> str:
    return (
        "WITH RECURSIVE bands AS ("
        + _oracle_minhash_bands()
        + f"""),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM bands a JOIN bands c
    ON a.band_idx = c.band_idx AND a.band_key = c.band_key
  WHERE a.doc_id < c.doc_id
),
t AS (SELECT doc_id, {{words}} AS w FROM documents),
sh AS (
  SELECT doc_id, list_distinct({{shingles}}) AS sh FROM t
),
ver AS (
  SELECT cand.id_a, cand.id_b
  FROM cand
  JOIN sh a ON a.doc_id = cand.id_a
  JOIN sh b ON b.doc_id = cand.id_b
  WHERE round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
    THEN len(list_intersect(a.sh, b.sh))::DOUBLE
         / len(list_distinct(list_concat(a.sh, b.sh)))
    ELSE 0.0 END, 6) >= 0.6
),
edges AS (
  SELECT id_a AS v, id_b AS u FROM ver
  UNION SELECT id_b, id_a FROM ver
),
reach AS (
  SELECT v, v AS u FROM (SELECT DISTINCT v FROM edges)
  UNION
  SELECT r.v, e.u FROM reach r JOIN edges e ON r.u = e.v
)
SELECT v AS doc_id, min(u) AS component,
  v = min(u) AS keep
FROM reach GROUP BY v
""").format(
        words=_SQL_WORDS, shingles=_sql_shingles(dedup.SHINGLE_K)
    )


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing exact-substring pairs (operators/winnow.py, md5 oracle
    family): docs sharing verbatim spans >= w + k - 1 chars."""
    from data_quality_assessment_spark.operators import winnow

    d = _load(spark, sf_dir, "documents")
    # min_shared=8: template-generated fixture docs share many short
    # 17-char spans; 8+ shared fingerprints isolates substantial
    # verbatim overlap (measured: 32k pairs at >=2 vs 277 at >=8,
    # sf0.01)
    return winnow.winnow_pairs(
        d, "doc_id", "text", min_shared=8, fast=False
    )


def _oracle_winnow_pairs() -> str:
    from data_quality_assessment_spark.operators.winnow import (
        DEFAULT_K, DEFAULT_W,
    )

    k, w = DEFAULT_K, DEFAULT_W
    h = _SQL_H64.format(x=f"substr(txt, i, {k})")
    return f"""
WITH t AS (SELECT doc_id, coalesce(text, '') AS txt FROM documents),
g AS (
  SELECT doc_id,
    CASE WHEN length(txt) >= {k}
      THEN list_transform(generate_series(1, length(txt) - {k - 1}),
                          i -> {h})
      ELSE []::BIGINT[] END AS hh
  FROM t
),
m AS (
  SELECT doc_id,
    CASE WHEN len(hh) >= {w}
      THEN list_transform(generate_series(1, len(hh) - {w - 1}),
                          i -> list_min(hh[i:i+{w - 1}]))
      ELSE []::BIGINT[] END AS mins
  FROM g
),
f AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM m)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 8
"""


def q_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring REMOVAL (operators/winnow.exact_substring_removal,
    md5 oracle family): deterministic pair corpus — docs (2i, 2i+1)
    share a ~55-char planted span at DIFFERENT phases (the odd doc is
    prefixed by doc_id%7 'p's) — the odd (lower-priority) doc must come
    back with the span excised, the even canonical copy and unpaired
    docs untouched. The oracle re-derives the full computation in SQL:
    gram hashes, winnowing pair gating, per-pair matched-run islands,
    covered-position union, char-level excision."""
    from data_quality_assessment_spark.operators import winnow

    d2 = _substring_corpus(spark, sf_dir)
    res = winnow.exact_substring_removal(d2, "doc_id", "text", fast=False)
    return res.select("doc_id", "text_clean", "n_removed")


def _substring_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _load(spark, sf_dir, "documents").filter("doc_id < 120")
    i = F.expr("doc_id div 2").cast("string")
    span = F.repeat(F.concat(F.lit("shared segment "), i, F.lit(" ")), 3)
    did = F.col("doc_id").cast("string")
    even = F.concat(F.lit("A"), i, F.lit(" "), span, F.lit(" tailA "), did)
    odd = F.concat(
        F.expr("repeat('p', cast(doc_id % 7 as int))"), span,
        F.lit(" tailB "), did,
    )
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, even).otherwise(odd).alias("text"),
    )


def q_substring_removal_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact_substring_removal with the max_partners fan-in cap ON
    (top-2 partners per doc by shared-fingerprint count, id_a
    tiebreak): the oracle mirrors the cap with a row_number QUALIFY
    over the pair table — confirms the OOM guard picks exactly the
    specified partners, not merely 'some'."""
    from data_quality_assessment_spark.operators import winnow

    d2 = _substring_corpus(spark, sf_dir)
    res = winnow.exact_substring_removal(
        d2, "doc_id", "text", fast=False, max_partners=2
    )
    return res.select("doc_id", "text_clean", "n_removed")


def _oracle_substring_removal(max_partners: int | None = None) -> str:
    from data_quality_assessment_spark.operators.winnow import (
        DEFAULT_K, DEFAULT_W,
    )

    k, w = DEFAULT_K, DEFAULT_W
    run_min = 30 - k + 1  # default min_len = 30
    h = _SQL_H64.format(x=f"substr(txt, gs.p, {k})")
    if max_partners is None:
        pairs_cte = """pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
)"""
    else:
        # mirror the top-N-partners-per-id_b cap: n_shared desc, id_a
        # asc — the same deterministic order the Spark window uses
        pairs_cte = f"""pairs0 AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b, row_number() OVER (
      PARTITION BY id_b ORDER BY n_shared DESC, id_a ASC) AS rn
    FROM pairs0
  ) WHERE rn <= {max_partners}
)"""
    return f"""
WITH base AS (
  SELECT doc_id, doc_id // 2 AS i FROM documents WHERE doc_id < 120
),
docs AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0
      THEN 'A' || i::VARCHAR || ' '
           || repeat('shared segment ' || i::VARCHAR || ' ', 3)
           || ' tailA ' || doc_id::VARCHAR
      ELSE repeat('p', (doc_id % 7)::INT)
           || repeat('shared segment ' || i::VARCHAR || ' ', 3)
           || ' tailB ' || doc_id::VARCHAR
    END AS txt
  FROM base
),
g AS (
  SELECT doc_id, gs.p, {h} AS h
  FROM docs, unnest(generate_series(1, length(txt) - {k - 1})) AS gs(p)
),
mw AS (
  SELECT doc_id, p, h,
    min(h) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS wmin,
    count(*) OVER (PARTITION BY doc_id) AS ng
  FROM g
),
f AS (SELECT DISTINCT doc_id, wmin AS fp FROM mw WHERE p <= ng - {w - 1}),
{pairs_cte},
hits AS (
  SELECT DISTINCT pr.id_a, pr.id_b, gb.p
  FROM pairs pr
  JOIN g gb ON gb.doc_id = pr.id_b
  JOIN (SELECT DISTINCT doc_id, h FROM g) ga
    ON ga.doc_id = pr.id_a AND ga.h = gb.h
),
isl AS (
  SELECT id_a, id_b, p,
    p - row_number() OVER (PARTITION BY id_a, id_b ORDER BY p) AS grp
  FROM hits
),
runs AS (
  SELECT id_b, min(p) AS p0, max(p) AS p1
  FROM isl GROUP BY id_a, id_b, grp
  HAVING count(*) >= {run_min}
),
cov AS (
  SELECT DISTINCT id_b, cs.pos
  FROM runs, unnest(generate_series(p0, p1 + {k - 1})) AS cs(pos)
),
chars AS (
  SELECT d.doc_id, cs.pos, substr(d.txt, cs.pos, 1) AS c
  FROM docs d, unnest(generate_series(1, length(d.txt))) AS cs(pos)
),
cleaned AS (
  SELECT ch.doc_id,
    string_agg(CASE WHEN cv.pos IS NULL THEN ch.c ELSE '' END, ''
               ORDER BY ch.pos) AS text_clean,
    sum(CASE WHEN cv.pos IS NULL THEN 0 ELSE 1 END) AS n_removed
  FROM chars ch
  LEFT JOIN cov cv ON cv.id_b = ch.doc_id AND cv.pos = ch.pos
  GROUP BY ch.doc_id
)
SELECT d.doc_id, coalesce(cl.text_clean, d.txt) AS text_clean,
  coalesce(cl.n_removed, 0)::INT AS n_removed
FROM docs d LEFT JOIN cleaned cl USING (doc_id)
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _load(spark, sf_dir, "documents")
    return dedup.with_simhash(d, "doc_id", "text", fast=False)


def _oracle_simhash() -> str:
    bit_terms = " + ".join(
        f"CASE WHEN coalesce(list_sum(list_transform(h, "
        f"x -> ((x >> {j}) & 1) * 2 - 1)), 0) > 0 "
        f"THEN (1::BIGINT << {j}) ELSE 0 END"
        for j in range(dedup.SIMHASH_BITS)
    )
    return f"""
WITH t AS (
  SELECT doc_id, {_SQL_WORDS} AS w FROM documents
), hh AS (
  SELECT doc_id,
    list_transform(w, x -> {_SQL_H64.format(x='x')}) AS h
  FROM t
)
SELECT doc_id, ({bit_terms})::BIGINT AS simhash FROM hh
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _load(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, "doc_id", "text", "source")


def _oracle_ngram_jaccard() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, source, {_SQL_WORDS} AS w FROM documents
), sh AS (
  SELECT doc_id, source,
    list_distinct({_sql_shingles(dedup.SHINGLE_K)}) AS sh
  FROM t
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
    THEN len(list_intersect(a.sh, b.sh))::DOUBLE
         / len(list_distinct(list_concat(a.sh, b.sh)))
    ELSE 0.0 END, 6) AS jaccard
FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: min 60-bit hash over word
    2-shingles (text-analysis extension; same hash family as minhash)."""
    d = _load(spark, sf_dir, "documents")
    sh = dedup._shingles(F.col("text"), 2)
    fp = F.array_min(F.transform(sh, lambda s: dedup._h64(s)))
    return d.select("doc_id", fp.alias("fp"))


def _oracle_fingerprint() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents)
SELECT doc_id,
  list_min(list_transform({_sql_shingles(2)}, s -> {_SQL_H64.format(x='s')})) AS fp
FROM t
"""


# ---------------------------------------------------------------------------
# cadence / IAT metrics over events (SURVEY.md §2.5-2.6 W1, A3, A7, A8, A10)
# ---------------------------------------------------------------------------

_SQL_IAT = """
SELECT user_id,
  date_diff('microsecond', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts)
    / 1000000.0 AS iat
FROM events
"""


def _events_iat(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load(spark, sf_dir, "events")
    return cadence.with_iat(e, "user_id", "ts")


def q_iat_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user IAT count/sum/min/max in EXACT integer microseconds
    (A1/A2/A10): a float avg's last-ulp depends on summation order, and
    at sf0.1 one user's avg landed on a 6dp round-half boundary where
    Spark (HALF_UP) and DuckDB disagree — integer sums are
    order-independent and tie-free (same trick as the quantized LM)."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    d = e.withColumn("iat_us", us - F.lag(us).over(w)).filter(
        F.col("iat_us").isNotNull() & (F.col("iat_us") >= 0)
    )
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_iat"),
        F.sum("iat_us").alias("sum_iat_us"),
        F.min("iat_us").alias("min_iat_us"),
        F.max("iat_us").alias("max_iat_us"),
    )


ORACLE_IAT_USER_STATS = """
WITH i AS (
  SELECT user_id,
    date_diff('microsecond',
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) AS iat_us
  FROM events
)
SELECT user_id, count(*)::BIGINT AS n_iat,
  sum(iat_us)::BIGINT AS sum_iat_us,
  min(iat_us)::BIGINT AS min_iat_us,
  max(iat_us)::BIGINT AS max_iat_us
FROM i WHERE iat_us IS NOT NULL AND iat_us >= 0 GROUP BY user_id
"""


def q_iat_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _events_iat(spark, sf_dir).filter(F.col("iat").isNotNull())
    d = d.select(F.floor("iat").cast("double").alias("iat_s"))
    return cadence.mode_smallest(d, "iat_s")


ORACLE_IAT_MODE = f"""
WITH i AS ({_SQL_IAT}),
c AS (
  SELECT floor(iat)::DOUBLE AS iat_s, count(*) AS cnt FROM i
  WHERE iat IS NOT NULL GROUP BY 1
)
SELECT iat_s AS mode FROM c ORDER BY cnt DESC, iat_s ASC LIMIT 1
"""


def _user_iat_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user IAT scores over whole-second IATs (A7/A8 kernel)."""
    d = _events_iat(spark, sf_dir).select(
        "user_id", F.floor("iat").cast("double").alias("iat")
    )
    return cadence.iat_freq_scores(d, ["user_id"])


def q_iat_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 per user; users whose modal IAT is 0 have no defined relative
    error and no row."""
    return _user_iat_scores(spark, sf_dir).filter(
        F.col("regularity").isNotNull()
    ).select("user_id", F.round("regularity", 6).alias("reg_score"))


ORACLE_IAT_REG = f"""
WITH i0 AS ({_SQL_IAT}),
i AS (SELECT user_id, floor(iat)::DOUBLE AS iat FROM i0 WHERE iat IS NOT NULL),
c AS (SELECT user_id, iat, count(*) AS cnt FROM i GROUP BY 1, 2),
m AS (
  SELECT user_id, iat AS mode FROM (
    SELECT user_id, iat,
      row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, iat ASC) rn
    FROM c) WHERE rn = 1 AND iat <> 0
),
r AS (
  SELECT i.user_id, abs(i.iat - m.mode) / m.mode AS rae
  FROM i JOIN m ON i.user_id = m.user_id
)
SELECT user_id,
  round(sum(CASE WHEN rae <= 0.5 THEN 1 - 2 * rae ELSE 0.0 END)
    / (sum(CASE WHEN rae <= 0.5 THEN 1.0 ELSE 0.0 END)
       + sum(CASE WHEN rae > 0.5 THEN 2 * rae ELSE 0.0 END)), 6) AS reg_score
FROM r GROUP BY user_id
"""


def q_iat_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _user_iat_scores(spark, sf_dir).select(
        "user_id", F.round("outliers", 6).alias("out_score")
    )


ORACLE_IAT_OUT = f"""
WITH i0 AS ({_SQL_IAT}),
i AS (SELECT user_id, floor(iat)::DOUBLE AS iat FROM i0 WHERE iat IS NOT NULL),
c AS (SELECT user_id, iat, count(*) AS cnt FROM i GROUP BY 1, 2),
m AS (
  SELECT user_id, iat AS mode FROM (
    SELECT user_id, iat,
      row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, iat ASC) rn
    FROM c) WHERE rn = 1
),
d AS (
  SELECT i.user_id, i.iat, m.mode, abs(i.iat - m.mode) AS absdev
  FROM i JOIN m ON i.user_id = m.user_id
),
md AS (
  SELECT user_id, quantile_cont(absdev, 0.5) AS mad, any_value(mode) AS mode
  FROM d GROUP BY user_id
)
SELECT i.user_id,
  round(1 - sum(CASE WHEN md.mad > 0
      AND 0.6745 * (i.iat - md.mode) / md.mad > 3.5
      THEN 1.0 ELSE 0.0 END) / count(*), 6) AS out_score
FROM i JOIN md ON i.user_id = md.user_id
GROUP BY i.user_id
"""


def q_iat_regularity_old(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 + A11: the reference's retired regularity variant — strict
    IAT>0 mask, per-entity mode deviation, min-max scale, 1 - mean
    (cadence.regularity_old). Integer-floored IATs keep every per-entity
    sum exact so the oracle agrees bit-for-bit."""
    e = _load(spark, sf_dir, "events")
    d = cadence.with_iat(e, "user_id", "ts", strict_positive=True).select(
        "user_id", F.floor("iat").cast("double").alias("iat")
    )
    return cadence.regularity_old(d, "user_id")


ORACLE_IAT_REG_OLD = """
WITH i0 AS (
  SELECT user_id,
    date_diff('microsecond',
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts)
      / 1000000.0 AS iat
  FROM events
),
i AS (
  SELECT user_id, floor(iat)::DOUBLE AS iat FROM i0
  WHERE iat IS NOT NULL AND iat > 0
),
c AS (SELECT user_id, iat, count(*) AS cnt FROM i GROUP BY 1, 2),
m AS (
  SELECT user_id, iat AS mode FROM (
    SELECT user_id, iat,
      row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, iat ASC) rn
    FROM c) WHERE rn = 1
),
dev AS (
  SELECT i.user_id, avg(abs(i.iat - m.mode)) AS mode_deviation
  FROM i JOIN m ON i.user_id = m.user_id GROUP BY i.user_id
),
mm AS (SELECT min(mode_deviation) AS mn, max(mode_deviation) AS mx FROM dev)
SELECT round(1.0 - avg(CASE WHEN mm.mx > mm.mn
    THEN (dev.mode_deviation - mm.mn) / (mm.mx - mm.mn)
    ELSE 0.0 END), 3) AS reg_score_old
FROM dev, mm
"""


def q_host_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north_star's per-host crawl-cadence over PAGES (reference IAT
    regularity/outlier math per url host — plans/pipeline.host_cadence,
    the plain host-partitioned lag scored by cadence.iat_freq_scores):
    one row per host with page count + both cadence scores."""
    pages = _pages(spark, sf_dir)
    return pipeline.host_cadence(pages)


ORACLE_HOST_CADENCE = """
WITH p AS (SELECT source AS host, doc_id::DOUBLE AS t FROM documents),
i0 AS (
  SELECT host, t - lag(t) OVER (PARTITION BY host ORDER BY t) AS iat FROM p
),
i AS (SELECT host, iat FROM i0 WHERE iat IS NOT NULL AND iat >= 0),
n AS (SELECT host, count(*)::BIGINT AS n_pages FROM p GROUP BY host),
c AS (SELECT host, iat, count(*) AS cnt FROM i GROUP BY 1, 2),
m AS (
  SELECT host, iat AS mode FROM (
    SELECT host, iat,
      row_number() OVER (PARTITION BY host ORDER BY cnt DESC, iat ASC) rn
    FROM c) WHERE rn = 1
),
r AS (
  SELECT i.host,
    round(sum(CASE WHEN rae <= 0.5 THEN 1 - 2 * rae ELSE 0.0 END)
      / (sum(CASE WHEN rae <= 0.5 THEN 1.0 ELSE 0.0 END)
         + sum(CASE WHEN rae > 0.5 THEN 2 * rae ELSE 0.0 END)), 6)
      AS reg_score
  FROM (
    SELECT i.host, abs(i.iat - m.mode) / m.mode AS rae
    FROM i JOIN m ON i.host = m.host AND m.mode <> 0
  ) i GROUP BY i.host
),
md AS (
  SELECT d.host, quantile_cont(d.absdev, 0.5) AS mad,
    any_value(d.mode) AS mode
  FROM (
    SELECT i.host, i.iat, m.mode, abs(i.iat - m.mode) AS absdev
    FROM i JOIN m ON i.host = m.host
  ) d GROUP BY d.host
),
o AS (
  SELECT i.host,
    round(1 - sum(CASE WHEN md.mad > 0
        AND 0.6745 * (i.iat - md.mode) / md.mad > 3.5
        THEN 1.0 ELSE 0.0 END) / count(*), 6) AS out_score
  FROM i JOIN md ON i.host = md.host GROUP BY i.host
)
SELECT n.host, n.n_pages, r.reg_score, o.out_score
FROM n LEFT JOIN r ON n.host = r.host LEFT JOIN o ON n.host = o.host
"""


def q_host_cadence_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe twin of host_cadence
    (plans/pipeline.host_cadence_salted): (host, time-bucket) lag
    windows feeding the same IAT-score kernel — must produce IDENTICAL
    rows, so it is checked against the SAME oracle SQL. Bucket width
    600s splits the fixture's ~N-second host timelines into many
    buckets, exercising the boundary-diff path."""
    pages = _pages(spark, sf_dir)
    return pipeline.host_cadence_salted(pages, ts_bucket_sec=600)


def q_winnow_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """winnow_pairs with the max_df hot-fingerprint cap ON (md5 oracle
    family): fingerprints shared by more than 25 docs are dropped
    before the self-join — the oracle mirrors the cap with a HAVING on
    fingerprint document frequency. Confirms the skew guard changes
    results exactly as specified, not just bounds work."""
    from data_quality_assessment_spark.operators import winnow

    d = _load(spark, sf_dir, "documents")
    return winnow.winnow_pairs(
        d, "doc_id", "text", min_shared=4, fast=False, max_df=25
    )


def _oracle_winnow_pairs_capped() -> str:
    from data_quality_assessment_spark.operators.winnow import (
        DEFAULT_K, DEFAULT_W,
    )

    k, w = DEFAULT_K, DEFAULT_W
    h = _SQL_H64.format(x=f"substr(txt, i, {k})")
    return f"""
WITH t AS (SELECT doc_id, coalesce(text, '') AS txt FROM documents),
g AS (
  SELECT doc_id,
    CASE WHEN length(txt) >= {k}
      THEN list_transform(generate_series(1, length(txt) - {k - 1}),
                          i -> {h})
      ELSE []::BIGINT[] END AS hh
  FROM t
),
m AS (
  SELECT doc_id,
    CASE WHEN len(hh) >= {w}
      THEN list_transform(generate_series(1, len(hh) - {w - 1}),
                          i -> list_min(hh[i:i+{w - 1}]))
      ELSE []::BIGINT[] END AS mins
  FROM g
),
f AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM m),
keep AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 25),
f2 AS (SELECT f.doc_id, f.fp FROM f JOIN keep USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 4
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sampling (operators/sampling.py, md5
    oracle family): keep-rate by stratum as a pure codegen predicate —
    no shuffle, stable under any partition layout. The oracle applies
    the identical md5 unit-interval hash and CASE fractions."""
    from data_quality_assessment_spark.operators import sampling as sp

    d = _load(spark, sf_dir, "documents")
    return sp.stratified_sample(
        d.select("doc_id", "lang"), "doc_id", "lang",
        {"en": 0.9, "de": 0.1}, default_fraction=0.4, seed=7, fast=False,
    )


ORACLE_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang FROM documents
WHERE ({_SQL_H64.format(x="doc_id::VARCHAR || '#s7'")})::DOUBLE
      / 1152921504606846976.0
  < CASE lang WHEN 'en' THEN 0.9 WHEN 'de' THEN 0.1 ELSE 0.4 END
"""


def q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted deterministic train/val/test assignment
    (operators/sampling.split_of, md5 oracle family): disjoint and
    exhaustive by cumulative thresholds over one unit hash — a
    document's split never changes across runs or layouts."""
    from data_quality_assessment_spark.operators import sampling as sp

    d = _load(spark, sf_dir, "documents")
    return sp.with_split(
        d.select("doc_id"), "doc_id",
        [("train", 0.8), ("val", 0.1), ("test", 0.1)], seed=3, fast=False,
    )


ORACLE_DOC_SPLIT = f"""
SELECT doc_id,
  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END
    AS split
FROM (
  SELECT doc_id,
    ({_SQL_H64.format(x="doc_id::VARCHAR || '#s3'")})::DOUBLE
      / 1152921504606846976.0 AS u
  FROM documents
)
"""


def q_iat_outage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _events_iat(spark, sf_dir)
    return cadence.outage_by_entity(d, "user_id")


ORACLE_IAT_OUTAGE = f"""
WITH i AS ({_SQL_IAT}),
mu AS (SELECT avg(iat) AS mu FROM i WHERE iat IS NOT NULL)
SELECT user_id, round(sum(iat), 6) AS outage_sec
FROM i, mu WHERE iat IS NOT NULL AND iat > 2 * mu
GROUP BY user_id ORDER BY outage_sec DESC, user_id
"""


def q_value_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A12 full moments (explicit two-pass formulas; see
    cadence.moments for why library skew/kurtosis don't cross engines)."""
    e = _load(spark, sf_dir, "events")
    return cadence.moments(e, "value")


ORACLE_VALUE_MOMENTS = """
WITH mu AS (SELECT avg(value) AS m FROM events)
SELECT count(*)::BIGINT AS n,
  round(any_value(mu.m), 6) AS mean,
  round(sqrt(avg((value - mu.m) * (value - mu.m))), 6) AS std_pop,
  round(avg((value - mu.m) * (value - mu.m) * (value - mu.m))
        / pow(avg((value - mu.m) * (value - mu.m)), 1.5), 6) AS skew_pop,
  round(avg((value - mu.m) * (value - mu.m) * (value - mu.m) * (value - mu.m))
        / pow(avg((value - mu.m) * (value - mu.m)), 2.0) - 3.0, 6) AS kurt_pop
FROM events, mu
"""


def q_iat_outliers_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _events_iat(spark, sf_dir).select(
        "user_id", F.floor("iat").cast("double").alias("iat")
    )
    return cadence.outlier_score_median(d, "iat", ["user_id"])


ORACLE_IAT_OUT_MED = f"""
WITH i0 AS ({_SQL_IAT}),
i AS (SELECT user_id, floor(iat)::DOUBLE AS iat FROM i0 WHERE iat IS NOT NULL),
m AS (SELECT user_id, quantile_cont(iat, 0.5) AS med FROM i GROUP BY user_id),
d AS (
  SELECT i.user_id, i.iat, m.med, abs(i.iat - m.med) AS absdev
  FROM i JOIN m ON i.user_id = m.user_id
),
md AS (
  SELECT user_id, quantile_cont(absdev, 0.5) AS mad, any_value(med) AS med
  FROM d GROUP BY user_id
)
SELECT i.user_id,
  round(1 - sum(CASE WHEN md.mad > 0
      AND 0.6745 * (i.iat - md.med) / md.mad > 3.5
      THEN 1.0 ELSE 0.0 END) / count(*), 6) AS out_score_med
FROM i JOIN md ON i.user_id = md.user_id
GROUP BY i.user_id
"""


def q_iqr_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load(spark, sf_dir, "events")
    f = cadence.iqr_fences(e, "value")
    return f.select(
        F.round("q1", 6).alias("q1"),
        F.round("q3", 6).alias("q3"),
        F.round("lower", 6).alias("lower"),
        F.round("upper", 6).alias("upper"),
    )


ORACLE_IQR = """
WITH q AS (
  SELECT quantile_cont(value::DOUBLE, 0.25) AS q1,
         quantile_cont(value::DOUBLE, 0.75) AS q3
  FROM events
)
SELECT round(q1, 6) AS q1, round(q3, 6) AS q3,
  round(q1 - 1.5 * (q3 - q1), 6) AS lower,
  round(q3 + 1.5 * (q3 - q1), 6) AS upper
FROM q
"""


def q_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load(spark, sf_dir, "events")
    return cadence.data_stats(e, "value")


ORACLE_VALUE_STATS = """
SELECT count(*)::BIGINT AS n,
  round(avg(value), 6) AS mean,
  round(quantile_cont(value::DOUBLE, 0.5), 6) AS median,
  round(stddev_samp(value), 6) AS std,
  round(var_samp(value), 6) AS var,
  round(min(value), 6) AS min,
  round(max(value), 6) AS max
FROM events
"""


# ---------------------------------------------------------------------------
# completeness / format adherence analogs (SURVEY.md §2.6 A13-A14, §2.8 F1/F3)
# ---------------------------------------------------------------------------

_REQUIRED_DOC_FIELDS = ("text", "lang", "source")


def q_doc_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _load(spark, sf_dir, "documents")
    missing = sum(
        F.sum(F.col(c).isNull().cast("long")) for c in _REQUIRED_DOC_FIELDS
    )
    n = F.count(F.lit(1))
    return d.agg(
        n.cast("long").alias("n_total"),
        missing.cast("long").alias("n_missing"),
        F.round(
            F.lit(1.0) - missing / (n * len(_REQUIRED_DOC_FIELDS)), 6
        ).alias("completeness_score"),
    )


ORACLE_COMPLETENESS = """
SELECT count(*)::BIGINT AS n_total,
  (sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
   + sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
   + sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END))::BIGINT AS n_missing,
  round(1.0 - (sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
   + sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
   + sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END))::DOUBLE
   / (count(*) * 3), 6) AS completeness_score
FROM documents
"""


def q_doc_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-adherence analog: declared n_chars must equal length(text)."""
    d = _load(spark, sf_dir, "documents")
    err = F.sum(
        (
            F.col("text").isNull()
            | (F.col("n_chars") != F.length("text"))
        ).cast("long")
    )
    n = F.count(F.lit(1))
    return d.agg(
        err.cast("long").alias("err_count"),
        F.round(F.lit(1.0) - err / n, 6).alias("format_score"),
    )


ORACLE_FORMAT = """
SELECT sum(CASE WHEN text IS NULL OR n_chars <> length(text)
           THEN 1 ELSE 0 END)::BIGINT AS err_count,
  round(1.0 - sum(CASE WHEN text IS NULL OR n_chars <> length(text)
           THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS format_score
FROM documents
"""


# ---------------------------------------------------------------------------
# text analysis extensions: token counting, PII email count
# ---------------------------------------------------------------------------


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _load(spark, sf_dir, "documents")
    return d.select("doc_id", ts.n_tokens(F.col("text")).alias("n_tokens"))


ORACLE_TOKEN_COUNT = f"""
SELECT doc_id,
  len(regexp_extract_all(coalesce(text,''), '{TOKEN_RE}'))::BIGINT AS n_tokens
FROM documents
"""


def q_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic quality scorer (functions/quality_model.py) — compared
    on the LOGIT (pure left-to-right arithmetic, bit-reproducible in
    SQL); the sigmoid probability is deliberately excluded from the
    oracle columns (libm exp() can differ in the last ulp across
    engines) and is pinned by pytest instead."""
    from data_quality_assessment_spark.functions import quality_model as qm

    d = _load(spark, sf_dir, "documents")
    return qm.quality_model_score(d).select("doc_id", "qm_logit", "keep")


def _oracle_quality_model_sql() -> str:
    from data_quality_assessment_spark.functions.quality_model import (
        DEFAULT_BIAS, DEFAULT_WEIGHTS,
    )

    w = DEFAULT_WEIGHTS
    dlf = (
        "list_filter(list_transform(string_split(txt, chr(10)), "
        f"l -> regexp_replace(regexp_replace(l, '^{WS}+', ''), '{WS}+$', '')), "
        "l -> l <> '')"
    )
    # the logit chain mirrors quality_model.logit_col term-for-term,
    # left-to-right: ((((b + nw_sat*w1) + mwl*w2) + sym*w3) + swf*w4) + dlf*w5
    logit = (
        f"(((({DEFAULT_BIAS!r} + (nw / (nw + 100.0)) * {w['nw_sat']!r})"
        f" + mwl * {w['mean_wl']!r})"
        f" + sym * {w['symbol_ratio']!r})"
        f" + swf * {w['stopword_frac']!r})"
        f" + dlfv * {w['dup_line_frac']!r}"
    )
    return f"""
WITH t AS (
  SELECT doc_id, coalesce(text, '') AS txt, {_SQL_WORDS} AS w FROM documents
),
f AS (
  SELECT doc_id,
    len(w)::DOUBLE AS nw,
    CASE WHEN len(w) > 0
      THEN list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w)
      ELSE 0.0 END AS mwl,
    CASE WHEN len(w) > 0
      THEN len(regexp_extract_all(txt, '{SYMBOL_CLASS}'))::DOUBLE / len(w)
      ELSE 0.0 END AS sym,
    CASE WHEN len(w) > 0
      THEN len(list_filter(w, x -> list_contains({_SQL_STOPS}, lower(x))))::DOUBLE / len(w)
      ELSE 0.0 END AS swf,
    CASE WHEN len({dlf}) > 0
      THEN 1.0 - len(list_distinct({dlf}))::DOUBLE / len({dlf})
      ELSE 0.0 END AS dlfv
  FROM t
)
SELECT doc_id,
  round({logit}, 6) AS qm_logit,
  ({logit}) > 0.0 AS keep
FROM f
"""


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (textstats.normalize_url, pure codegen):
    messy URL variants are synthesized deterministically from doc
    fields — case-variant scheme/host, default ports, fragments,
    tracking params, shuffled query order — and must collapse to the
    canonical key the DuckDB oracle derives with the same steps."""
    d = _load(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    messy = (
        F.when(m == 0, F.concat(
            F.lit("HTTP://WWW."), F.upper("source"),
            F.lit(":80/A/b?b=2&utm_source=x&a=1#frag"),
        ))
        .when(m == 1, F.concat(F.lit("https://"), F.col("source"), F.lit(":443/")))
        .when(m == 2, F.concat(
            F.lit("https://"), F.col("source"), F.lit("/p?z="),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("&gclid=abc&y=0"),
        ))
        # multi-'?' case: RFC 3986 allows literal '?' inside values —
        # the whole 'a=1?x&b=2' tail must survive as the query string
        .when(m == 3, F.concat(
            F.lit("https://"), F.col("source"), F.lit("/r?a=1?x&b=2#f"),
        ))
        .otherwise(F.concat(F.lit("http://"), F.col("source"), F.lit(":8080/Q/")))
    )
    return d.select(
        "doc_id", ts.normalize_url(messy).alias("url_norm")
    )


ORACLE_URL_NORMALIZE = """
WITH m AS (
  SELECT doc_id,
    CASE doc_id % 5
      WHEN 0 THEN 'HTTP://WWW.' || upper(source) || ':80/A/b?b=2&utm_source=x&a=1#frag'
      WHEN 1 THEN 'https://' || source || ':443/'
      WHEN 2 THEN 'https://' || source || '/p?z=' || (doc_id % 7)::VARCHAR || '&gclid=abc&y=0'
      WHEN 3 THEN 'https://' || source || '/r?a=1?x&b=2#f'
      ELSE 'http://' || source || ':8080/Q/'
    END AS u
  FROM documents
),
s AS (
  SELECT doc_id, split_part(u, '#', 1) AS d FROM m
),
p AS (
  SELECT doc_id,
    split_part(d, '?', 1) AS base,
    -- everything after the FIRST '?' (literal '?' legal inside values)
    CASE WHEN contains(d, '?')
         THEN substr(d, length(split_part(d, '?', 1)) + 2) ELSE '' END AS q
  FROM s
),
c AS (
  SELECT doc_id, q,
    lower(split_part(base, '://', 1)) AS scheme,
    split_part(base, '://', 2) AS rest
  FROM p
),
h AS (
  SELECT doc_id, q, scheme, rest,
    lower(split_part(rest, '/', 1)) AS hostport,
    substr(rest, length(split_part(rest, '/', 1)) + 1) AS path
  FROM c
),
n AS (
  SELECT doc_id, scheme,
    CASE WHEN scheme = 'http' AND hostport LIKE '%:80'
           THEN substr(hostport, 1, length(hostport) - 3)
         WHEN scheme = 'https' AND hostport LIKE '%:443'
           THEN substr(hostport, 1, length(hostport) - 4)
         ELSE hostport END AS host,
    CASE WHEN path = '/' THEN '' ELSE path END AS npath,
    array_to_string(list_sort(list_filter(string_split(q, '&'),
      x -> x <> '' AND NOT regexp_matches(x,
        '^(utm_[^=]*|fbclid|gclid|msclkid|ref_src)='))), '&') AS nq
  FROM h
)
SELECT doc_id,
  scheme || '://' || host || npath ||
  CASE WHEN nq <> '' THEN '?' || nq ELSE '' END AS url_norm
FROM n
"""


def q_dup_line_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style char-weighted duplicate-line fraction
    (operators/repetition.py)."""
    from data_quality_assessment_spark.operators import repetition

    d = _load(spark, sf_dir, "documents")
    return repetition.dup_line_char_frac(d, "doc_id", "text")


ORACLE_DUP_LINE_CHARS = f"""
WITH lns AS (
  SELECT doc_id,
    unnest(list_filter(list_transform(
      string_split(coalesce(text, ''), chr(10)),
      l -> regexp_replace(regexp_replace(l, '^{WS}+', ''), '{WS}+$', '')),
      l -> l <> '')) AS ln
  FROM documents
),
per AS (
  SELECT doc_id, ln, count(*) AS c, max(length(ln)) AS len
  FROM lns GROUP BY doc_id, ln
),
agg AS (
  SELECT doc_id,
    round(sum((c - 1) * len)::DOUBLE / sum(c * len), 6) AS f
  FROM per GROUP BY doc_id
)
SELECT d.doc_id, coalesce(agg.f, 0.0) AS dup_line_char_frac
FROM documents d LEFT JOIN agg USING (doc_id)
"""


def q_dup_paragraph_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-paragraph char fraction
    (operators/repetition.dup_paragraph_char_frac). The synthetic
    corpus has no natural paragraph dups, so every third doc gets a
    deterministic planted pair (its first 80 chars, newline-flattened,
    appended twice as paragraphs) — exercising the positive path, with
    the oracle deriving the identical corpus."""
    from data_quality_assessment_spark.operators import repetition

    d = _load(spark, sf_dir, "documents")
    planted = F.translate(F.substring(F.col("text"), 1, 80), "\n", " ")
    text2 = F.when(
        (F.col("doc_id") % 3 == 0) & F.col("text").isNotNull(),
        F.concat(F.col("text"), F.lit("\n\n"), planted, F.lit("\n\n"),
                 planted),
    ).otherwise(F.col("text"))
    d2 = d.select("doc_id", text2.alias("text"))
    return repetition.dup_paragraph_char_frac(d2, "doc_id", "text")


ORACLE_DUP_PARA_CHARS = f"""
WITH docs2 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 AND text IS NOT NULL
      THEN text || chr(10) || chr(10)
           || replace(substr(text, 1, 80), chr(10), ' ')
           || chr(10) || chr(10)
           || replace(substr(text, 1, 80), chr(10), ' ')
      ELSE text END AS text
  FROM documents
),
ps AS (
  SELECT doc_id,
    unnest(list_filter(list_transform(
      regexp_split_to_array(coalesce(text, ''), '\\n{{2,}}'),
      p -> regexp_replace(regexp_replace(p, '^{WS}+', ''), '{WS}+$', '')),
      p -> p <> '')) AS p
  FROM docs2
),
per AS (
  SELECT doc_id, p, count(*) AS c, max(length(p)) AS len
  FROM ps GROUP BY doc_id, p
),
agg AS (
  SELECT doc_id,
    round(sum((c - 1) * len)::DOUBLE / sum(c * len), 6) AS f
  FROM per GROUP BY doc_id
)
SELECT d.doc_id, coalesce(agg.f, 0.0) AS dup_paragraph_char_frac
FROM documents d LEFT JOIN agg USING (doc_id)
"""


def q_dup_ngram_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate 5-gram char COVERAGE (exact interval-union
    semantics — each char counted once; repetition.dup_ngram_char_frac).
    Every third doc gets a deterministic planted duplicated run (its
    first 60 chars appended twice) so the positive coverage path is
    exercised; the oracle derives the identical corpus."""
    from data_quality_assessment_spark.operators import repetition

    d = _load(spark, sf_dir, "documents")
    snip = F.translate(F.substring(F.col("text"), 1, 60), "\n", " ")
    text2 = F.when(
        (F.col("doc_id") % 3 == 0) & F.col("text").isNotNull(),
        F.concat(F.col("text"), F.lit(" "), snip, F.lit(" "), snip),
    ).otherwise(F.col("text"))
    d2 = d.select("doc_id", text2.alias("text"))
    return repetition.dup_ngram_char_frac(d2, 5, "doc_id", "text")


ORACLE_DUP_NGRAM_5 = f"""
WITH docs2 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 AND text IS NOT NULL
      THEN text || ' ' || replace(substr(text, 1, 60), chr(10), ' ')
           || ' ' || replace(substr(text, 1, 60), chr(10), ' ')
      ELSE text END AS text
  FROM documents
),
t AS (SELECT doc_id, {_SQL_WORDS} AS w FROM docs2),
tot AS (
  SELECT doc_id, w, length(array_to_string(w, '')) AS total FROM t
),
pos AS (
  SELECT doc_id, total, g.i AS i, w[g.i] AS wd
  FROM tot, unnest(generate_series(1, len(w))) AS g(i)
),
o AS (
  SELECT doc_id, total, i, wd,
    sum(length(wd)) OVER (PARTITION BY doc_id ORDER BY i) AS e
  FROM pos
),
g5 AS (
  SELECT doc_id, total, e - length(wd) AS s,
    lead(e, 4) OVER w AS ge,
    wd || ' ' || lead(wd, 1) OVER w || ' ' || lead(wd, 2) OVER w
       || ' ' || lead(wd, 3) OVER w || ' ' || lead(wd, 4) OVER w AS g
  FROM o WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
gg AS (SELECT * FROM g5 WHERE ge IS NOT NULL),
dup AS (
  SELECT doc_id, g FROM gg GROUP BY doc_id, g HAVING count(*) > 1
),
iv AS (
  SELECT gg.doc_id, gg.total, gg.s, gg.ge
  FROM gg JOIN dup USING (doc_id, g)
),
u AS (
  SELECT doc_id, total,
    greatest(ge - greatest(s, coalesce(
      max(ge) OVER (PARTITION BY doc_id ORDER BY s, ge
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      0)), 0) AS nc
  FROM iv
),
a AS (
  SELECT doc_id, round(sum(nc)::DOUBLE / any_value(total), 6) AS f
  FROM u GROUP BY doc_id
)
SELECT d.doc_id, coalesce(a.f, 0.0) AS dup_ngram_char_frac
FROM documents d LEFT JOIN a USING (doc_id)
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontaminate.py — the
    GPT-3/Llama 13-gram overlap check): the benchmark corpus is
    synthesized deterministically as words 5..17 of every 17th doc, so
    those docs (and any accidental 13-gram twins) must flag as
    contaminated; the oracle re-derives grams and the semi-join in
    SQL."""
    from data_quality_assessment_spark.operators import decontaminate as dc

    d = _load(spark, sf_dir, "documents")
    w = d.select("doc_id", ts.words(F.col("text")).alias("_ws"))
    bench = (
        w.filter((F.col("doc_id") % 17 == 3) & (F.size("_ws") >= 17))
        .select(F.concat_ws(" ", F.slice("_ws", 5, 13)).alias("text"))
    )
    return dc.decontaminate(d, bench)


ORACLE_DECONTAMINATE = f"""
WITH t AS (SELECT doc_id, {_SQL_WORDS} AS w FROM documents),
bg AS (
  SELECT DISTINCT array_to_string(w[5:17], ' ') AS g
  FROM t WHERE doc_id % 17 = 3 AND len(w) >= 17
),
dg AS (
  SELECT DISTINCT doc_id, array_to_string(w[s.i:s.i+12], ' ') AS g
  FROM t, unnest(generate_series(1, greatest(len(w) - 12, 0))) AS s(i)
),
hits AS (
  SELECT doc_id, count(*) AS n FROM dg JOIN bg USING (g) GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(h.n, 0)::BIGINT AS n_contaminated_grams,
  coalesce(h.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


def q_top_ngram_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style top word-3-gram character coverage."""
    from data_quality_assessment_spark.operators import repetition

    d = _load(spark, sf_dir, "documents")
    return repetition.top_ngram_char_frac(d, 3, "doc_id", "text")


def _oracle_top_ngram_sql(n: int) -> str:
    return f"""
WITH t AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(coalesce(text, ''), '{WS}+'),
                x -> x <> '') AS w
  FROM documents
),
tot AS (
  SELECT doc_id, length(array_to_string(w, '')) AS total, w FROM t
),
g AS (
  SELECT doc_id, total,
    unnest(CASE WHEN len(w) >= {n}
      THEN list_transform(generate_series(1, len(w) - {n - 1}),
                          i -> array_to_string(w[i:i+{n - 1}], ' '))
      ELSE []::VARCHAR[] END) AS gm
  FROM tot
),
c AS (
  SELECT doc_id, total, gm, count(*) AS c FROM g GROUP BY doc_id, total, gm
),
top AS (
  SELECT doc_id, total, gm, c,
    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gm ASC) AS rn
  FROM c
)
SELECT d.doc_id, top.gm AS top_ngram,
  coalesce(round(top.c * (length(top.gm) - {n - 1})::DOUBLE / top.total, 6),
           0.0) AS top_ngram_char_frac
FROM documents d
LEFT JOIN (SELECT * FROM top WHERE rn = 1) top USING (doc_id)
"""


def q_pii_email_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count(F.coalesce("text", F.lit("")), F.lit(EMAIL_RE.pattern))
        .cast("long")
        .alias("n_email"),
    )


ORACLE_PII_EMAIL = f"""
SELECT doc_id,
  len(regexp_extract_all(coalesce(text,''), '{EMAIL_RE.pattern}'))::BIGINT AS n_email
FROM documents
"""


# ---------------------------------------------------------------------------
# similarity search: brute-force cosine top-k over embeddings
# ---------------------------------------------------------------------------


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 neighbours of the first embedding
    (``similarity.cosine_topk``): ranked on the unrounded cosine, then
    vec_id, exactly as ORACLE_ANN ranks, and rounded only on output."""
    from data_quality_assessment_spark.operators import similarity as sim

    e = _load(spark, sf_dir, "embeddings")
    q = (
        e.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    return sim.cosine_topk(e, q, k=10).select(
        "vec_id", F.round("cos", 4).alias("cos")
    )


ORACLE_ANN = """
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  ORDER BY vec_id LIMIT 1
),
s AS (
  SELECT e.vec_id,
    list_sum(list_transform(generate_series(1, len(e.embedding)),
      i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) /
    (sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
     * sqrt(list_sum(list_transform(generate_series(1, len(q.qv)),
      i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))) AS c
  FROM embeddings e, q WHERE e.vec_id <> q.qid
)
SELECT vec_id, round(c, 4) AS cos FROM s ORDER BY c DESC, vec_id LIMIT 10
"""


def q_ann_cosine_topk_hd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-dim (256) exact top-k: the 64-dim test embeddings are
    deterministically tiled 4x in BOTH engines, so the oracle checks the
    similarity kernel at a width nearer a production corpus (768+) than
    the 64-dim queries."""
    from data_quality_assessment_spark.operators import similarity as sim

    e = _load(spark, sf_dir, "embeddings").withColumn(
        "hd", F.flatten(F.array_repeat(F.col("embedding"), 4))
    )
    q = (
        e.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("q_id"), F.col("hd").alias("q_vec"))
    )
    return sim.cosine_topk(e, q, k=10, vec_col="hd").select(
        "vec_id", F.round("cos", 4).alias("cos")
    )


ORACLE_ANN_HD = """
WITH t AS (
  SELECT vec_id,
    flatten([embedding, embedding, embedding, embedding]) AS hd
  FROM embeddings
),
q AS (SELECT vec_id AS qid, hd AS qv FROM t ORDER BY vec_id LIMIT 1),
s AS (
  SELECT t.vec_id,
    list_sum(list_transform(generate_series(1, len(t.hd)),
      i -> t.hd[i]::DOUBLE * q.qv[i]::DOUBLE)) /
    (sqrt(list_sum(list_transform(generate_series(1, len(t.hd)),
      i -> t.hd[i]::DOUBLE * t.hd[i]::DOUBLE)))
     * sqrt(list_sum(list_transform(generate_series(1, len(q.qv)),
      i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))) AS c
  FROM t, q WHERE t.vec_id <> q.qid
)
SELECT vec_id, round(c, 4) AS cos FROM s ORDER BY c DESC, vec_id LIMIT 10
"""


def q_cadence_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2's per-user mode / MAD / regularity / outlier row (the reference's
    grouped apply, ``metricModules.py:41-44``), all from the one IAT-score
    kernel. The name is kept from the grouped-map applyInPandas twin this
    query used to run; ``winnow.exact_substring_removal`` is the package's
    grouped-map path."""
    return _user_iat_scores(spark, sf_dir).select(
        "user_id", "n", "mode", F.round("mad", 6).alias("mad"),
        F.round("regularity", 6).alias("reg_score"),
        F.round("outliers", 6).alias("out_score"),
    )


ORACLE_CADENCE_PANDAS = f"""
WITH i0 AS ({_SQL_IAT}),
i AS (SELECT user_id, floor(iat)::DOUBLE AS iat FROM i0 WHERE iat IS NOT NULL),
c AS (SELECT user_id, iat, count(*) AS cnt FROM i GROUP BY 1, 2),
m AS (
  SELECT user_id, iat AS mode FROM (
    SELECT user_id, iat,
      row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, iat ASC) rn
    FROM c) WHERE rn = 1
),
d AS (
  SELECT i.user_id, i.iat, m.mode, abs(i.iat - m.mode) AS absdev
  FROM i JOIN m ON i.user_id = m.user_id
),
md AS (
  SELECT user_id, count(*) AS n, any_value(mode) AS mode,
         quantile_cont(absdev, 0.5) AS mad
  FROM d GROUP BY user_id
),
reg AS (
  SELECT d.user_id,
    CASE WHEN any_value(d.mode) <> 0 THEN
      round(sum(CASE WHEN absdev / mode <= 0.5 THEN 1 - 2 * absdev / mode
                ELSE 0.0 END)
        / (sum(CASE WHEN absdev / mode <= 0.5 THEN 1.0 ELSE 0.0 END)
           + sum(CASE WHEN absdev / mode > 0.5 THEN 2 * absdev / mode
                 ELSE 0.0 END)), 6)
    END AS reg_score
  FROM d GROUP BY d.user_id
),
outl AS (
  SELECT d.user_id,
    CASE WHEN any_value(md.mad) > 0 THEN
      round(1 - sum(CASE WHEN 0.6745 * (d.iat - d.mode) / md.mad > 3.5
                    THEN 1.0 ELSE 0.0 END) / count(*), 6)
    ELSE 1.0 END AS out_score
  FROM d JOIN md ON d.user_id = md.user_id GROUP BY d.user_id
)
SELECT md.user_id, md.n::BIGINT AS n, md.mode, round(md.mad, 6) AS mad,
       reg.reg_score, outl.out_score
FROM md JOIN reg ON md.user_id = reg.user_id
JOIN outl ON md.user_id = outl.user_id
"""


def q_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_assessment_spark.operators import similarity as sim

    e = _load(spark, sf_dir, "embeddings")
    return sim.cosine_near_dup_pairs(e, "vec_id", "embedding", "label", 0.25)


ORACLE_COSINE_NEAR_DUP = """
WITH s AS (
  SELECT label, vec_id, embedding,
    sqrt(list_sum(list_transform(generate_series(1, len(embedding)),
      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS n
  FROM embeddings
)
SELECT id_a, id_b, cos FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round(list_sum(list_transform(generate_series(1, len(a.embedding)),
        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
      / (a.n * b.n), 6) AS cos
  FROM s a JOIN s b ON a.label = b.label AND a.vec_id < b.vec_id
) WHERE cos >= 0.25
"""


def q_schema_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-Schema rule engine (functions/schema_rules.py) over a payload
    synthesized deterministically from event_id so every rule class
    (type/null/unknown/required) fires on a known subset; the oracle
    builds the identical payload in SQL and re-derives the counts with
    DuckDB's JSON functions."""
    from data_quality_assessment_spark.functions.schema_rules import (
        JsonSchema,
        validate,
    )

    e = _load(spark, sf_dir, "events")
    payload = F.concat(
        F.lit('{"k": '), (F.col("event_id") % 100).cast("string"),
        F.when(F.col("event_id") % 7 == 0, F.lit(', "zzz": 1')).otherwise(F.lit("")),
        F.when(F.col("event_id") % 11 == 0, F.lit(', "k2": "x"')).otherwise(F.lit("")),
        F.when(F.col("event_id") % 13 == 0, F.lit(', "req2": null')).otherwise(
            F.when(F.col("event_id") % 3 == 0, F.lit(', "req2": 5')).otherwise(F.lit(""))
        ),
        F.lit("}"),
    )
    schema = JsonSchema.from_dict({
        "properties": {
            "k": {"type": "number"},
            "k2": {"type": "number"},
            "req2": {"type": "number"},
        },
        "required": ["k", "req2"],
        "additionalProperties": False,
    })
    d = e.select("event_id", payload.alias("payload"))
    return validate(d, "payload", schema).select(
        "event_id", "v_type_err_cnt", "v_add_err", "v_req_err_cnt",
        "v_missing_cnt", "v_err_any",
    )


ORACLE_SCHEMA_VALIDATION = """
WITH p AS (
  SELECT event_id,
    ('{"k": ' || (event_id % 100)::VARCHAR
     || CASE WHEN event_id % 7 = 0 THEN ', "zzz": 1' ELSE '' END
     || CASE WHEN event_id % 11 = 0 THEN ', "k2": "x"' ELSE '' END
     || CASE WHEN event_id % 13 = 0 THEN ', "req2": null'
             WHEN event_id % 3 = 0 THEN ', "req2": 5' ELSE '' END
     || '}')::JSON AS j
  FROM events
),
t AS (
  SELECT event_id,
    json_type(j, '$.k') AS tk,
    json_type(j, '$.k2') AS tk2,
    json_type(j, '$.req2') AS treq2,
    len(list_filter(json_keys(j), x -> x NOT IN ('k', 'k2', 'req2'))) AS n_unk
  FROM p
),
v AS (
  SELECT event_id,
    (CASE WHEN tk IS NOT NULL
          AND tk NOT IN ('BIGINT','UBIGINT','INTEGER','DOUBLE') THEN 1 ELSE 0 END
     + CASE WHEN tk2 IS NOT NULL
          AND tk2 NOT IN ('BIGINT','UBIGINT','INTEGER','DOUBLE') THEN 1 ELSE 0 END
     + CASE WHEN treq2 IS NOT NULL
          AND treq2 NOT IN ('BIGINT','UBIGINT','INTEGER','DOUBLE') THEN 1 ELSE 0 END
    )::INT AS v_type_err_cnt,
    (CASE WHEN n_unk > 0 THEN 1 ELSE 0 END)::INT AS v_add_err,
    (CASE WHEN tk IS NULL THEN 1 ELSE 0 END
     + CASE WHEN treq2 IS NULL THEN 1 ELSE 0 END)::INT AS v_req_err_cnt,
    (CASE WHEN tk IS NULL OR tk = 'NULL' THEN 1 ELSE 0 END
     + CASE WHEN treq2 IS NULL OR treq2 = 'NULL' THEN 1 ELSE 0 END)::INT
      AS v_missing_cnt
  FROM t
)
SELECT event_id, v_type_err_cnt, v_add_err, v_req_err_cnt, v_missing_cnt,
  (CASE WHEN v_type_err_cnt > 0 OR v_add_err > 0 OR v_req_err_cnt > 0
   THEN 1 ELSE 0 END)::INT AS v_err_any
FROM v
"""


def q_six_metric_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship artifact (six scores + avg) over events:
    entity=user_id, required={user_id, ts, event_type, value}, props
    treated as an undeclared attribute (plans/report.py, quirks Q1-Q9)."""
    from data_quality_assessment_spark.plans import report

    e = _load(spark, sf_dir, "events")
    return report.six_metric_report(
        e,
        entity="user_id",
        ts="ts",
        required=["user_id", "ts", "event_type", "value"],
        known=["event_id", "ts", "user_id", "event_type", "value"],
    )


def q_six_metric_report_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALE-mode six-metric report: per-entity partitioned IAT lag (Q1
    off) — no single-partition WindowExec anywhere in the plan, so the
    same report runs at any entity cardinality. Registered separately
    from the parity-mode query; both are oracle-checked."""
    from data_quality_assessment_spark.plans import report

    e = _load(spark, sf_dir, "events")
    return report.six_metric_report(
        e,
        entity="user_id",
        ts="ts",
        required=["user_id", "ts", "event_type", "value"],
        known=["event_id", "ts", "user_id", "event_type", "value"],
        global_order=False,
    )


_SIX_METRICS_TEMPLATE = """
WITH dupe AS (
  SELECT round(1.0 - (sum(c) - count(*))::DOUBLE / sum(c), 3) AS dupe
  FROM (SELECT count(*) AS c FROM events GROUP BY user_id, ts)
),
dd AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, ts
                                 ORDER BY event_id) AS rn
    FROM events) WHERE rn = 1
),
iat AS (
  SELECT date_diff('microsecond',
                   lag(ts) OVER ({lag_window}), ts) / 1000000.0 AS v
  FROM dd
),
clean AS (SELECT v FROM iat WHERE v IS NOT NULL AND v >= 0),
m AS (
  SELECT v AS mode FROM (
    SELECT v, count(*) AS c FROM clean GROUP BY v
    ORDER BY c DESC, v ASC LIMIT 1)
),
reg AS (
  SELECT round(
    sum(CASE WHEN abs(v - mode) / mode <= 0.5
        THEN 1 - 2 * abs(v - mode) / mode ELSE 0.0 END)
    / (sum(CASE WHEN abs(v - mode) / mode <= 0.5 THEN 1.0 ELSE 0.0 END)
       + sum(CASE WHEN abs(v - mode) / mode > 0.5
             THEN 2 * abs(v - mode) / mode ELSE 0.0 END)), 3) AS regularity
  FROM clean, m
),
md AS (
  SELECT any_value(mode) AS mode, quantile_cont(abs(v - mode), 0.5) AS mad
  FROM clean, m
),
outl AS (
  SELECT round(1 - sum(CASE WHEN md.mad > 0
        AND 0.6745 * (c.v - md.mode) / md.mad > 3.5
        THEN 1.0 ELSE 0.0 END) / count(*), 3) AS outliers
  FROM clean c, md
),
sch AS (
  SELECT
    round(1 - sum(CASE WHEN user_id IS NULL OR ts IS NULL
          OR event_type IS NULL OR value IS NULL
          THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS format_adherence,
    round(1 - sum(CASE WHEN props IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
          / count(*), 4) AS unknown_absence,
    round(1 - (sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
             + sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
             + sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
             + sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END))::DOUBLE
          / (count(*) * 4), 6) AS completeness
  FROM events
)
SELECT dupe.dupe, reg.regularity, outl.outliers, sch.format_adherence,
  sch.unknown_absence, sch.completeness,
  round((dupe.dupe + reg.regularity + outl.outliers + sch.format_adherence
         + sch.unknown_absence + sch.completeness) / 6, 3) AS avg_score
FROM dupe, reg, outl, sch
"""

ORACLE_SIX_METRICS = _SIX_METRICS_TEMPLATE.format(
    lag_window="ORDER BY user_id, ts"
)
ORACLE_SIX_METRICS_SCALE = _SIX_METRICS_TEMPLATE.format(
    lag_window="PARTITION BY user_id ORDER BY ts"
)


# ---------------------------------------------------------------------------
# similarity search, LSH path (operators/similarity.py)
# ---------------------------------------------------------------------------

_LSH_DIM = 64
_LSH_PLANES = 8


def q_lsh_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_assessment_spark.operators import similarity as sim

    e = _load(spark, sf_dir, "embeddings")
    return sim.with_lsh_signature(
        e, "embedding", _LSH_DIM, _LSH_PLANES
    ).select("vec_id", "sig")


def _sql_lsh_bits() -> str:
    """The sign-bit signature expression over ``embedding`` (shared by
    the signature and topk oracles)."""
    def plane_dot(j: int) -> str:
        terms = " + ".join(
            f"embedding[{i + 1}]::DOUBLE * "
            f"((({_SQL_H64.format(x=repr(f'hp:{j}:{i}'))}) % 2001 - 1000) / 1000.0)"
            for i in range(_LSH_DIM)
        )
        return f"({terms})"

    return "(" + " + ".join(
        f"CASE WHEN {plane_dot(j)} > 0 THEN {1 << j} ELSE 0 END"
        for j in range(_LSH_PLANES)
    ) + ")::BIGINT"


def _oracle_lsh_signature() -> str:
    return f"SELECT vec_id, {_sql_lsh_bits()} AS sig FROM embeddings"


def _oracle_lsh_topk() -> str:
    probes = ", ".join(
        ["q_sig"] + [f"xor(q_sig, {1 << j}::BIGINT)" for j in range(_LSH_PLANES)]
    )
    dot = " + ".join(
        f"s.embedding[{i + 1}]::DOUBLE * c.q_vec[{i + 1}]::DOUBLE"
        for i in range(_LSH_DIM)
    )
    na = " + ".join(
        f"s.embedding[{i + 1}]::DOUBLE * s.embedding[{i + 1}]::DOUBLE"
        for i in range(_LSH_DIM)
    )
    nb = " + ".join(
        f"c.q_vec[{i + 1}]::DOUBLE * c.q_vec[{i + 1}]::DOUBLE"
        for i in range(_LSH_DIM)
    )
    return f"""
WITH sigs AS (
  SELECT vec_id, embedding, {_sql_lsh_bits()} AS sig FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, embedding AS q_vec, sig AS q_sig FROM sigs
  ORDER BY vec_id LIMIT 3
),
probes AS (
  SELECT q_id, q_vec, unnest([{probes}]) AS sig FROM q
),
cand AS (
  SELECT DISTINCT c.q_id, s.vec_id, c.q_vec, s.embedding
  FROM probes c JOIN sigs s USING (sig)
  WHERE s.vec_id <> c.q_id
),
scored AS (
  SELECT c.q_id, c.vec_id,
    ({dot}) / (sqrt({na}) * sqrt({nb})) AS cos_exact
  FROM cand c JOIN sigs s ON c.vec_id = s.vec_id
)
SELECT q_id, vec_id, round(cos_exact, 4) AS cos, rank FROM (
  SELECT q_id, vec_id, cos_exact,
    row_number() OVER (PARTITION BY q_id
                       ORDER BY cos_exact DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


_IVF_CENTROIDS = 16
_IVF_NPROBE = 4


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (deterministic coarse codebook -> cell equi-join ->
    exact rerank) — the inverted-file scale path beside the LSH one; the
    oracle re-derives the identical cells/probes from the same md5
    codebook."""
    from data_quality_assessment_spark.operators import similarity as sim

    e = _load(spark, sf_dir, "embeddings")
    q = (
        e.orderBy("vec_id")
        .limit(3)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    out = sim.ivf_topk(
        e, q, dim=_LSH_DIM, k=5,
        n_centroids=_IVF_CENTROIDS, nprobe=_IVF_NPROBE,
    )
    return out.select("q_id", "vec_id", F.round("cos", 4).alias("cos"), "rank")


def _oracle_ann_ivf_topk() -> str:
    from data_quality_assessment_spark.operators.similarity import ivf_codebook

    cb = ivf_codebook(_IVF_CENTROIDS, _LSH_DIM)

    def dot_sql(prefix: str, cent: list[float]) -> str:
        # left-to-right fold, as the similarity kernel sums; the
        # kernel's zero-weight terms add ±0.0, which leaves a finite
        # sum unchanged, so skipping them here gives the same dots
        return " + ".join(
            f"{prefix}[{i + 1}]::DOUBLE * ({w})"
            for i, w in enumerate(cent) if w != 0.0
        )

    corpus_dots = ", ".join(
        f"({dot_sql('embedding', c)})" for c in cb
    )
    query_pairs = ", ".join(
        f"{{'nd': -({dot_sql('q_vec', c)}), 'c': {i}}}"
        for i, c in enumerate(cb)
    )
    dot = " + ".join(
        f"s.embedding[{i + 1}]::DOUBLE * c.q_vec[{i + 1}]::DOUBLE"
        for i in range(_LSH_DIM)
    )
    na = " + ".join(
        f"s.embedding[{i + 1}]::DOUBLE * s.embedding[{i + 1}]::DOUBLE"
        for i in range(_LSH_DIM)
    )
    nb = " + ".join(
        f"c.q_vec[{i + 1}]::DOUBLE * c.q_vec[{i + 1}]::DOUBLE"
        for i in range(_LSH_DIM)
    )
    return f"""
WITH cells AS (
  SELECT vec_id, embedding, d,
    (list_position(d, list_max(d)) - 1)::INT AS cell
  FROM (SELECT vec_id, embedding, [{corpus_dots}] AS d FROM embeddings)
),
q AS (
  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
  ORDER BY vec_id LIMIT 3
),
probes AS (
  SELECT q_id, q_vec, unnest(
    list_transform(list_slice(list_sort([{query_pairs}]), 1, {_IVF_NPROBE}),
                   p -> p.c)
  )::INT AS cell
  FROM q
),
scored AS (
  SELECT c.q_id, s.vec_id,
    ({dot}) / (sqrt({na}) * sqrt({nb})) AS cos_exact
  FROM cells s JOIN probes c ON s.cell = c.cell
  WHERE s.vec_id <> c.q_id
)
SELECT q_id, vec_id, round(cos_exact, 4) AS cos, rank FROM (
  SELECT q_id, vec_id, cos_exact,
    row_number() OVER (PARTITION BY q_id
                       ORDER BY cos_exact DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN (bucket join + rerank) — rows-only check; recall
    vs the exact path is pinned by tests/test_similarity_multimodal.py."""
    from data_quality_assessment_spark.operators import similarity as sim

    e = _load(spark, sf_dir, "embeddings")
    q = (
        e.orderBy("vec_id")
        .limit(3)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    out = sim.lsh_topk(e, q, dim=_LSH_DIM, k=5, n_planes=_LSH_PLANES)
    return out.select("q_id", "vec_id", F.round("cos", 4).alias("cos"), "rank")


# ---------------------------------------------------------------------------
# multimodal plumbing: binary blobs through mapInPandas
# (functions/multimodal.py; decode stubbed, Spark plumbing real)
# ---------------------------------------------------------------------------


def q_image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build deterministic FAKEIMG1 blobs from documents (width/height
    derived from doc_id, payload = utf-8 text), push them through the
    mapInPandas decode path, return the extracted metadata. The oracle
    computes the same metadata declaratively — an end-to-end check that
    the binary plumbing round-trips."""
    from data_quality_assessment_spark.functions import multimodal as mmod

    d = _load(spark, sf_dir, "documents")

    import pandas as pd

    def make_blobs(batches):
        for b in batches:
            out_rows = []
            for did, text in zip(b["doc_id"], b["text"]):
                w = int(did) % 640 + 1
                h = int(did) % 480 + 1
                payload = (text or "").encode("utf-8")
                out_rows.append(
                    (did, "image", mmod.encode_fake_image(w, h, payload), "image/fake")
                )
            yield pd.DataFrame(
                out_rows, columns=["media_id", "kind", "blob", "mime"]
            )

    media = d.select("doc_id", "text").mapInPandas(make_blobs, mmod.MEDIA_SCHEMA)
    return mmod.image_metadata(media)


ORACLE_IMAGE_META = """
SELECT doc_id AS media_id,
  (doc_id % 640 + 1)::INT AS width,
  (doc_id % 480 + 1)::INT AS height,
  (12 + strlen(coalesce(text, '')))::BIGINT AS n_bytes,
  true AS valid
FROM documents
"""


def q_audio_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAKEAUD1 twin of q_image_metadata: deterministic audio containers
    (rate/samples derived from doc_id) through the mapInPandas decode
    path; the oracle re-derives rate, sample count, and duration
    declaratively."""
    from data_quality_assessment_spark.functions import multimodal as mmod

    d = _load(spark, sf_dir, "documents")

    import pandas as pd

    def make_blobs(batches):
        for b in batches:
            out_rows = []
            for did in b["doc_id"]:
                rate = int(did) % 48000 + 8000
                n = int(did) % 100000 + 1
                out_rows.append(
                    (did, "audio", mmod.encode_fake_audio(rate, n), "audio/fake")
                )
            yield pd.DataFrame(
                out_rows, columns=["media_id", "kind", "blob", "mime"]
            )

    media = d.select("doc_id").mapInPandas(make_blobs, mmod.MEDIA_SCHEMA)
    return mmod.audio_metadata(media)


ORACLE_AUDIO_META = """
SELECT doc_id AS media_id,
  (doc_id % 48000 + 8000)::INT AS sample_rate,
  (doc_id % 100000 + 1)::BIGINT AS n_samples,
  (doc_id % 100000 + 1)::DOUBLE / (doc_id % 48000 + 8000) AS duration_sec,
  true AS valid
FROM documents
"""


def q_image_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG bytes (spec encoder, deterministic doc_id-derived pixel
    pattern) decoded back through the dependency-free PNG pixel decoder
    (multimodal.png_pixels) into exact-integer per-channel means; the
    oracle re-derives the same pixel series with generate_series.
    Proves the pixel decode is real, not header-only."""
    from data_quality_assessment_spark.functions import multimodal as mmod
    from data_quality_assessment_spark.plans.report_sinks import encode_png

    d = _load(spark, sf_dir, "documents")

    import numpy as np
    import pandas as pd

    def make_blobs(batches):
        for b in batches:
            rows = []
            for did in b["doc_id"]:
                did = int(did)
                w, h = did % 5 + 4, did % 3 + 3
                idx = np.arange(w * h, dtype=np.int64)
                rgb = np.stack(
                    [((did * 7 + idx * 3 + c * 11) % 256).reshape(h, w)
                     for c in range(3)],
                    axis=2,
                ).astype(np.uint8)
                rows.append((did, "image", encode_png(rgb), "image/png"))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "blob", "mime"]
            )

    # generator and decoder FUSED into one MapInPandas (r6, guide §4):
    # blobs are built and decoded inside the same Python worker instead
    # of round-tripping JVM->Python->JVM->Python; the decode path is the
    # exact operator body (multimodal.image_pixel_stats_batches)
    def gen_and_decode(batches):
        return mmod.image_pixel_stats_batches(make_blobs(batches))

    return d.select("doc_id").mapInPandas(
        gen_and_decode, mmod.IMAGE_PIXEL_SCHEMA
    )


ORACLE_IMAGE_PIXELS = """
WITH d AS (
  SELECT doc_id, doc_id % 5 + 4 AS w, doc_id % 3 + 3 AS h FROM documents
),
px AS (
  SELECT doc_id, w, h, g.i AS idx
  FROM d, unnest(generate_series(0, w * h - 1)) AS g(i)
),
s AS (
  SELECT doc_id, w, h,
    sum((doc_id * 7 + idx * 3) % 256) AS sr,
    sum((doc_id * 7 + idx * 3 + 11) % 256) AS sg,
    sum((doc_id * 7 + idx * 3 + 22) % 256) AS sb,
    count(*) AS n
  FROM px GROUP BY doc_id, w, h
)
SELECT doc_id AS media_id, w::INT AS width, h::INT AS height,
  round(sr::DOUBLE / n, 6) AS mean_r,
  round(sg::DOUBLE / n, 6) AS mean_g,
  round(sb::DOUBLE / n, 6) AS mean_b,
  true AS valid
FROM s
"""


def q_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEGs (spec-layout writer: canonical Huffman
    tables, DC-coefficient blocks) decoded back through the
    dependency-free Huffman+IDCT decoder (functions/jpeg.py) via the
    image_pixel_stats extractor. DC-only blocks make the decoded image
    uniform at clip(round(dc/8) + 128), so the oracle re-derives the
    means in closed form — an end-to-end proof the entropy decode +
    IDCT path is real. Odd doc_ids carry the PROGRESSIVE (SOF2) twin
    fixture — two scans, DC first at Al=1 + refinement bit — so the
    driver row also verifies the multi-scan successive-approximation
    path against the same closed form."""
    from data_quality_assessment_spark.functions import multimodal as mmod
    from data_quality_assessment_spark.functions.jpeg import jpeg_pixels  # noqa: F401 — decoder under test

    d = _load(spark, sf_dir, "documents")

    import numpy as np
    import pandas as pd

    def make_blobs(batches):
        from data_quality_assessment_spark.functions.jpeg import (
            encode_dc_jpeg,
            encode_dc_progressive,
        )

        for b in batches:
            rows = []
            for did in b["doc_id"]:
                did = int(did)
                # dc a multiple of 8: the uniform sample dc/8 + 128 is an
                # integer, so no round-half-even vs half-away divergence
                dc = (did % 24 - 12) * 8
                enc = encode_dc_progressive if did % 2 else encode_dc_jpeg
                rows.append(
                    (did, "image", enc(8, 8, dc), "image/jpeg")
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "blob", "mime"]
            )

    # generator and decoder FUSED into one MapInPandas (r6, guide §4):
    # blobs are built and decoded inside the same Python worker instead
    # of round-tripping JVM->Python->JVM->Python; the decode path is the
    # exact operator body (multimodal.image_pixel_stats_batches)
    def gen_and_decode(batches):
        return mmod.image_pixel_stats_batches(make_blobs(batches))

    return d.select("doc_id").mapInPandas(
        gen_and_decode, mmod.IMAGE_PIXEL_SCHEMA
    )


ORACLE_JPEG_PIXELS = """
SELECT doc_id AS media_id, 8::INT AS width, 8::INT AS height,
  ((doc_id % 24 - 12) + 128)::DOUBLE AS mean_r,
  ((doc_id % 24 - 12) + 128)::DOUBLE AS mean_g,
  ((doc_id % 24 - 12) + 128)::DOUBLE AS mean_b,
  true AS valid
FROM documents
"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV PCM bytes (RIFF fmt+data, int16 samples derived from
    doc_id) built per document, decoded back through the dependency-free
    sample decoder (multimodal.wav_samples_raw) into rms / peak /
    zero-crossing-rate features computed in exact integer arithmetic;
    the oracle re-derives the same sample series with generate_series
    and the same integer sums. Proves the PCM decode is real, not a
    header-only stub."""
    from data_quality_assessment_spark.functions import multimodal as mmod

    d = _load(spark, sf_dir, "documents")

    import numpy as np
    import pandas as pd

    def make_blobs(batches):
        for b in batches:
            rows = []
            for did in b["doc_id"]:
                did = int(did)
                n = did % 50 + 4
                k = np.arange(n, dtype=np.int64)
                s = ((did * 31 + k * 7) % 200 - 100) * 50
                rate = did % 8000 + 8000
                rows.append(
                    (did, "audio", mmod.encode_wav(rate, s), "audio/wav")
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "blob", "mime"]
            )

    # generator and decoder FUSED into one MapInPandas (r6, guide §4) —
    # same rationale as q_image_pixel_stats; the decode path is the
    # exact operator body (multimodal.audio_features_batches)
    def gen_and_decode(batches):
        return mmod.audio_features_batches(make_blobs(batches))

    return d.select("doc_id").mapInPandas(
        gen_and_decode, mmod.AUDIO_FEATURE_SCHEMA
    )


ORACLE_AUDIO_FEATURES = """
WITH s AS (
  SELECT doc_id, g.k,
    ((doc_id * 31 + g.k * 7) % 200 - 100) * 50 AS v
  FROM documents,
    unnest(generate_series(0, doc_id % 50 + 3)) AS g(k)
),
l AS (
  SELECT doc_id, k, v,
    lag(v) OVER (PARTITION BY doc_id ORDER BY k) AS prev
  FROM s
),
a AS (
  SELECT doc_id,
    count(*) AS n,
    sum(v * v) AS ssq,
    max(abs(v)) AS pk,
    sum(CASE WHEN prev IS NOT NULL AND ((prev >= 0) <> (v >= 0))
         THEN 1 ELSE 0 END) AS trans
  FROM l GROUP BY doc_id
)
SELECT doc_id AS media_id,
  (doc_id % 8000 + 8000)::INT AS sample_rate,
  n::BIGINT AS n_samples,
  n::DOUBLE / (doc_id % 8000 + 8000) AS duration_sec,
  round(sqrt(ssq::DOUBLE / n) / 32768, 6) AS rms,
  round(pk::DOUBLE / 32768, 6) AS peak,
  round(trans::DOUBLE / (n - 1), 6) AS zcr,
  true AS valid
FROM a
"""


def q_video_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL minimal MP4 headers (ftyp + moov[mvhd + trak[tkhd]]) built
    per doc with doc_id-derived timescale/duration/dimensions, pushed
    through the ISO-BMFF box walk (multimodal.mp4_metadata) via
    mapInPandas; the oracle re-derives every field declaratively — the
    binary round-trip check for the video path."""
    from data_quality_assessment_spark.functions import multimodal as mmod

    d = _load(spark, sf_dir, "documents")

    import pandas as pd

    def make_blobs(batches):
        for b in batches:
            rows = []
            for did in b["doc_id"]:
                blob = mmod.encode_min_mp4(
                    1000, int(did % 300 + 1) * 40,
                    int(did % 640 + 16), int(did % 360 + 9),
                )
                rows.append((did, "video", blob, "video/mp4"))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "blob", "mime"]
            )

    media = d.select("doc_id").mapInPandas(
        make_blobs, mmod.MEDIA_SCHEMA
    ).withColumn("media_id", F.col("media_id").cast("long"))
    return mmod.video_metadata(media)


ORACLE_VIDEO_META = """
SELECT doc_id AS media_id,
  ((doc_id % 300 + 1) * 40)::DOUBLE / 1000.0 AS duration_sec,
  1::INT AS n_tracks,
  (doc_id % 640 + 16)::INT AS width,
  (doc_id % 360 + 9)::INT AS height,
  true AS valid
FROM documents
"""


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WARC bytes (spec layout, CC-style per-record gzip members
    for every other doc) built per document, parsed back through the
    streaming record parser (sources/warc.py) — the oracle re-derives
    url/ts/status/body-length declaratively. Binary round-trip check
    for the raw-crawl ingest path."""
    import datetime as _dt

    import pandas as pd

    from data_quality_assessment_spark.sources import warc as warcmod

    d = _load(spark, sf_dir, "documents")
    base = _dt.datetime(2023, 5, 1)

    def roundtrip(batches):
        for b in batches:
            rows = []
            for did, text in zip(b["doc_id"], b["text"]):
                body = ("<html><body>" + (text or "") + "</body></html>").encode()
                url = f"https://warc.test/{did}"
                ts = base + _dt.timedelta(seconds=int(did) % 86400)
                blob = warcmod.write_warc(
                    [(url, ts, body)], compress=bool(did % 2)
                )
                (u, t, wtype, ctype, status, html), = (
                    warcmod.records_from_file_bytes(blob)
                )
                rows.append((did, u, t, wtype, ctype, status, len(html)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "url", "warc_ts", "warc_type",
                               "content_type", "http_status", "n_bytes"],
            )

    return d.select("doc_id", "text").mapInPandas(
        roundtrip,
        "doc_id long, url string, warc_ts timestamp, warc_type string, "
        "content_type string, http_status int, n_bytes long",
    )


ORACLE_WARC_ROUNDTRIP = """
SELECT doc_id,
  'https://warc.test/' || doc_id::VARCHAR AS url,
  TIMESTAMP '2023-05-01 00:00:00' + to_seconds(doc_id % 86400) AS warc_ts,
  'response' AS warc_type,
  'text/html' AS content_type,
  200::INT AS http_status,
  (strlen('<html><body>' || coalesce(text, '') || '</body></html>'))::BIGINT
    AS n_bytes
FROM documents
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (every 30th frame index per media row,
    from metadata only — no decode; functions/multimodal.py)."""
    from data_quality_assessment_spark.functions import multimodal as mmod

    d = _load(spark, sf_dir, "documents")
    vids = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 300 + 1).alias("n_frames"),
    )
    out = mmod.frame_sample_plan(vids, every_n=30)
    return out.select("media_id", F.col("frame_idx").cast("long").alias("frame_idx"))


ORACLE_FRAME_SAMPLE = """
SELECT doc_id AS media_id,
  unnest(range(0, (doc_id % 300 + 1)::BIGINT, 30))::BIGINT AS frame_idx
FROM documents
"""


# ---------------------------------------------------------------------------
# flagship (UDF stages — rows-only checks, no SQL oracle)
# ---------------------------------------------------------------------------


def q_pipeline_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-pipeline verdict, projected to its SQL-expressible columns —
    keep/quality_score and the fired DROP rules (every drop-rule input:
    stats, langid, perplexity, slur detection — has a DuckDB twin; see
    the generated oracle). The scrubbed text (lookbehind regexes, not
    RE2-expressible) lives in the separate rows-only ``pipeline_scrub``
    query, pinned byte-exact by tests/test_pipeline_parity.py."""
    pages = _pages(spark, sf_dir)
    out = pipeline.run_pipeline(pages, DEFAULT_CONFIG)
    drop_ids = F.array(*[F.lit(r) for r in pipeline.DROP_RULE_IDS])
    return out.select(
        "url",
        "keep",
        F.round("quality_score", 6).alias("quality_score"),
        F.concat_ws(",", F.array_intersect(F.col("rules_fired"), drop_ids))
        .alias("drops_csv"),
    )


def q_pipeline_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scrub output, materialized to full bytes (the engine-internal
    form keeps scrubbed_text NULL when no rule fired — see the
    functions/kernel.py module docstring; this query ships what a
    consumer reads)."""
    pages = _pages(spark, sf_dir)
    out = pipeline.materialize_scrubbed(
        pipeline.run_pipeline(pages, DEFAULT_CONFIG)
    )
    return out.select("url", "scrubbed_text", "pii_email", "pii_ip",
                      "pii_phone", "toxicity_slur")


def _oracle_pipeline_scrub_sql() -> str:
    """Full scrub twin in DuckDB/RE2. RE2 has no lookarounds, so the
    PHONE/IP stages run a RECURSIVE leftmost scan that emulates
    Python's zero-width boundary assertions exactly:

      state = (done, ctx, rest); each step finds the FIRST match of
      ``(lead)(CORE)($|[^cls])`` in ctx||rest, where ctx is a 1-char
      stand-in for the character immediately before rest — '' at the
      start of the string, and the pseudo-digit '0' after a replacement
      (every PHONE/IP match ends in a digit, so Python's lookbehind
      after a match is always digit-blocked). The matched span up to
      the sentinel moves into ``done`` with the token substituted; the
      re-emitted TRAIL character stays at the head of ``rest`` (Python
      lookaheads are zero-width — the next match may start on the trail
      character itself). Iterations = matches per document.

    Simpler rewrites are provably wrong, not just inelegant: a global
    boundary-consuming replace steals inner matches from longer
    overlapping ones ("044-2345678.(555) 123-4567" must scrub
    "(555) 123-4567" whole, not "123-4567"), and substituting final
    tokens into rescanned text lets "<PHONE>"'s '>' unblock matches the
    original trailing digit blocked ("044-2345678+91-9876543210"
    scrubs only the first number). Both are pinned as test cases in
    tests/test_scrub_oracle.py, which property-tests this SQL against
    ``textcore.scrub_text`` byte-for-byte (counts included) over
    adversarial adjacency chains. Assumes input text contains no chr(1)
    byte (the match sentinel) — true for web-text fixtures.

    EMAIL (no lookarounds) and SLUR (RE2 supports \\b; the lexicon and
    Python side are ASCII-folded) remain single global replaces. Rule
    order and staging mirror ``textcore.scrub_text``:
    email -> ip -> phone -> slur.
    """
    from data_quality_assessment_spark.functions.textcore import (
        EMAIL_RE, IP_CORE, PHONE_CORE, SLUR_LEXICON,
    )

    email = EMAIL_RE.pattern
    slur = r"(?i)\b(?:" + "|".join(SLUR_LEXICON) + r")\b"

    def scan_stage(name, src_cte, carry, core, cls, token):
        """Recursive-CTE scan for one lookaround rule. carry = columns
        dragged through unchanged (comma-joined string)."""
        first = f"(^|[^{cls}])({core})($|[^{cls}])"
        nxt = f"([^{cls}])({core})($|[^{cls}])"
        rep = "'\\1' || chr(1) || '\\3'"
        return f"""
{name}_scan AS (
  SELECT url, {carry}, '' AS done, '' AS ctx, t AS rest, 0 AS n
  FROM {src_cte}
  UNION ALL
  SELECT url, {carry},
    done || substr(s, len(ctx) + 1, strpos(s, chr(1)) - len(ctx) - 1)
         || '{token}',
    '0' AS ctx,
    substr(s, strpos(s, chr(1)) + 1) AS rest,
    n + 1
  FROM (
    SELECT url, {carry}, done, ctx, n,
      CASE WHEN ctx = ''
        THEN regexp_replace(rest, '{first}', {rep})
        ELSE regexp_replace(ctx || rest, '{nxt}', {rep})
      END AS s
    FROM {name}_scan
  ) WHERE strpos(s, chr(1)) > 0
),
{name} AS (
  SELECT url, {carry}, done || rest AS t, n
  FROM (
    SELECT url, {carry}, done, rest, n,
      row_number() OVER (PARTITION BY url ORDER BY n DESC) AS rn
    FROM (
      SELECT url, {carry}, done, ctx, rest, n,
        CASE WHEN ctx = ''
          THEN regexp_replace(rest, '{first}', {rep})
          ELSE regexp_replace(ctx || rest, '{nxt}', {rep})
        END AS s
      FROM {name}_scan
    ) WHERE strpos(s, chr(1)) = 0
  ) WHERE rn = 1
)"""

    ip_stage = scan_stage(
        "ip", "e", "pii_email", IP_CORE, "0-9.", "<IP>"
    )
    ph_stage = scan_stage(
        "ph", "ipf", "pii_email, pii_ip", PHONE_CORE, "0-9A-Za-z",
        "<PHONE>",
    )
    return f"""
WITH RECURSIVE base AS (
  SELECT 'https://' || source || '/' || doc_id::VARCHAR AS url,
    CASE WHEN text IS NULL THEN ''
         ELSE regexp_replace(text, '<[^>]*>', '', 'g') END AS txt
  FROM documents
),
e AS (
  SELECT url,
    len(regexp_extract_all(txt, '{email}'))::INT AS pii_email,
    regexp_replace(txt, '{email}', '<EMAIL>', 'g') AS t
  FROM base
),{ip_stage},
ipf AS (SELECT url, pii_email, t, n::INT AS pii_ip FROM ip),{ph_stage},
phf AS (
  SELECT url, pii_email, pii_ip, t, n::INT AS pii_phone FROM ph
)
SELECT url,
  regexp_replace(t, '{slur}', '<SLUR>', 'g') AS scrubbed_text,
  pii_email, pii_ip, pii_phone,
  len(regexp_extract_all(t, '{slur}'))::INT AS toxicity_slur
FROM phf
"""


def q_doc_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r6: dedicated vectorized ppl UDF — the fused enrich UDF would
    # compute every other field per row only for .ppl to be read (opaque
    # struct UDFs are not field-pruned); values bit-identical
    from data_quality_assessment_spark.functions.udfs import ppl_udf

    d = _load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.round(ppl_udf(F.col("text")), 6).alias("ppl")
    )


# ---------------------------------------------------------------------------
# generated LM oracles: the bigram model's quantized log-prob tables are
# emitted as VALUES lists AT CALL TIME from the in-repo model (no data
# blob in the repo). lm.py quantizes every log-prob to k*2^-20 (k int),
# so SUM(k) is exact under any summation order and DuckDB reproduces the
# kernel's perplexity bit-for-bit.
# ---------------------------------------------------------------------------


def _lm_tables_sql() -> tuple[str, int, int]:
    """(CTE clauses ``vocab/unit/bit``, UNK id, k_unk)."""
    import numpy as np

    from data_quality_assessment_spark.functions.lm import get_model
    from data_quality_assessment_spark.functions.textcore import VOCAB, VOCAB_UNK

    m = get_model()
    q = 2.0 ** 20
    k_bi = np.rint(-m.logp_bi * q).astype(np.int64)
    k_uni = np.rint(-m.logp_uni * q).astype(np.int64)
    k_unk = int(round(-m.logp_unk * q))
    v = len(VOCAB)
    vocab_rows = ", ".join(f"('{w}', {i})" for i, w in enumerate(VOCAB))
    uni_rows = ", ".join(f"({c}, {int(k_uni[c])})" for c in range(v))
    bi_rows = ", ".join(
        f"({p},{c},{int(k_bi[p, c])})" for p in range(v) for c in range(v)
    )
    ctes = (
        f"vocab(w, id) AS (VALUES {vocab_rows}),\n"
        f"unit(c, k) AS (VALUES {uni_rows}),\n"
        f"bit(p, c, k) AS (VALUES {bi_rows})"
    )
    return ctes, VOCAB_UNK, k_unk


def _oracle_doc_ppl_sql() -> str:
    ctes, unk, k_unk = _lm_tables_sql()
    words = _SQL_WORDS
    return f"""
WITH {ctes},
tw AS (SELECT doc_id, {words} AS w FROM documents),
toks AS (
  SELECT tw.doc_id, g.i, tw.w[g.i] AS tok
  FROM tw, unnest(generate_series(1, len(tw.w))) AS g(i)
),
ids AS (
  SELECT toks.doc_id, toks.i, coalesce(v.id, {unk}) AS id
  FROM toks LEFT JOIN vocab v ON lower(toks.tok) = v.w
),
pairs AS (
  SELECT a.doc_id, a.id AS p, b.id AS c
  FROM ids a JOIN ids b ON a.doc_id = b.doc_id AND b.i = a.i + 1
),
terms AS (
  SELECT pairs.doc_id,
    CASE WHEN pairs.c = {unk} THEN {k_unk}
         WHEN pairs.p = {unk} THEN unit.k
         ELSE bit.k END AS k
  FROM pairs
  LEFT JOIN unit ON unit.c = pairs.c
  LEFT JOIN bit ON bit.p = pairs.p AND bit.c = pairs.c
),
n AS (SELECT doc_id, count(*) AS nt FROM ids GROUP BY doc_id),
s AS (SELECT doc_id, SUM(k) AS sk FROM terms GROUP BY doc_id)
SELECT d.doc_id,
  CASE WHEN coalesce(n.nt, 0) < 2 THEN 1.0
       ELSE round(exp((s.sk / 1048576.0) / (n.nt - 1)), 6) END AS ppl
FROM documents d
LEFT JOIN n USING (doc_id) LEFT JOIN s USING (doc_id)
"""


def _oracle_pipeline_verdict_sql() -> str:
    """Full drop-rule verdict over documents-as-pages: tag-strip
    extraction, stats, langid (fixed tie-break), LM perplexity (exact
    quantized sums), top-bigram share, slur detection — every drop rule
    of plans/pipeline.drop_rules in order. The exact dedup is a no-op
    here because _pages derives a unique url per doc_id; ts_null never
    fires (warc_ts is synthesized non-null)."""
    ctes, unk, k_unk = _lm_tables_sql()
    from data_quality_assessment_spark.functions.textcore import SLUR_LEXICON

    slur_re = "(?i)\\b(?:" + "|".join(SLUR_LEXICON) + ")\\b"
    lang_in = ", ".join(f"'{la}'" for la in TH.allowed_langs)
    dlf = (
        "list_filter(list_transform(string_split(txt, chr(10)), "
        f"l -> regexp_replace(regexp_replace(l, '^{WS}+', ''), '{WS}+$', '')), "
        "l -> l <> '')"
    )
    return f"""
WITH {ctes},
base AS (
  SELECT 'https://' || source || '/' || doc_id::VARCHAR AS url,
    lang,
    CASE WHEN text IS NULL THEN ''
         ELSE regexp_replace(text, '<[^>]*>', '', 'g') END AS txt
  FROM documents
),
t AS (
  SELECT url, lang, txt,
    list_filter(regexp_split_to_array(txt, '{WS}+'), x -> x <> '') AS w
  FROM base
),
toks AS (
  SELECT t.url, g.i, t.w[g.i] AS tok
  FROM t, unnest(generate_series(1, len(t.w))) AS g(i)
),
idt AS (
  SELECT toks.url, toks.i,
    CASE WHEN v.id IS NULL THEN {unk} ELSE v.id END AS id
  FROM toks LEFT JOIN vocab v ON lower(toks.tok) = v.w
),
pairs AS (
  SELECT a.url, a.id AS p, b.id AS c
  FROM idt a JOIN idt b ON a.url = b.url AND b.i = a.i + 1
),
terms AS (
  SELECT pairs.url,
    CASE WHEN pairs.c = {unk} THEN {k_unk}
         WHEN pairs.p = {unk} THEN unit.k
         ELSE bit.k END AS k
  FROM pairs
  LEFT JOIN unit ON unit.c = pairs.c
  LEFT JOIN bit ON bit.p = pairs.p AND bit.c = pairs.c
),
sks AS (SELECT url, SUM(k) AS sk FROM terms GROUP BY url),
bg AS (
  SELECT url, max(cnt) AS best FROM (
    SELECT a.url, a.tok AS w1, b.tok AS w2, count(*) AS cnt
    FROM toks a JOIN toks b ON a.url = b.url AND b.i = a.i + 1
    GROUP BY a.url, a.tok, b.tok
  ) GROUP BY url
),
s AS (
  SELECT t.url, t.lang, t.txt, len(t.w) AS nw,
    CASE WHEN len(w) > 0
      THEN list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w)
      ELSE 0.0 END AS mwl,
    CASE WHEN len(w) > 0
      THEN len(regexp_extract_all(txt, '{SYMBOL_CLASS}'))::DOUBLE / len(w)
      ELSE 0.0 END AS sym,
    CASE WHEN len(w) > 0
      THEN len(list_filter(w, x -> list_contains({_SQL_STOPS}, lower(x))))::DOUBLE / len(w)
      ELSE 0.0 END AS swf,
    CASE WHEN len(w) > 0
      THEN len(list_filter(w, x -> list_contains({_SQL_LEXICON}, lower(x))))::DOUBLE / len(w)
      ELSE 0.0 END AS iv,
    CASE WHEN len({dlf}) > 0
      THEN 1.0 - len(list_distinct({dlf}))::DOUBLE / len({dlf})
      ELSE 0.0 END AS dlf,
    len(regexp_extract_all(txt, '[A-Za-z]')) AS latin,
    len(regexp_extract_all(txt, '[\\x{{0400}}-\\x{{04FF}}]')) AS cyr,
    len(regexp_extract_all(txt, '[\\x{{4E00}}-\\x{{9FFF}}\\x{{3040}}-\\x{{30FF}}]')) AS cjk,
    len(regexp_extract_all(txt, '[\\x{{0900}}-\\x{{097F}}]')) AS deva,
    CASE WHEN len(t.w) < 2 THEN 1.0
         ELSE round(exp((sks.sk / 1048576.0) / (len(t.w) - 1)), 6) END AS ppl,
    CASE WHEN len(t.w) < 2 THEN 0.0
         ELSE coalesce(bg.best, 0)::DOUBLE / (len(t.w) - 1) END AS tbs,
    len(regexp_extract_all(txt, '{slur_re}')) AS slur_cnt
  FROM t LEFT JOIN sks ON sks.url = t.url LEFT JOIN bg ON bg.url = t.url
),
lp AS (
  SELECT *, (latin + cyr + cjk + deva) AS letters,
    CASE WHEN deva >= cjk AND deva >= cyr THEN deva
         WHEN cyr >= cjk THEN cyr
         ELSE cjk END AS best_cnt
  FROM s
),
lg AS (
  SELECT *,
    CASE
      WHEN letters = 0 THEN 'unk'
      WHEN best_cnt::DOUBLE / letters >= 0.30 THEN
        CASE WHEN deva >= cjk AND deva >= cyr THEN 'xx_deva'
             WHEN cyr >= cjk THEN 'xx_cyr'
             ELSE 'xx_cjk' END
      WHEN latin::DOUBLE / letters >= 0.50 THEN
        CASE WHEN least(1.0, 0.6 * iv + 1.5 * swf + 0.05) >= 0.20
             THEN 'en' ELSE 'unk' END
      ELSE 'unk'
    END AS lang_pred
  FROM lp
),
r AS (
  SELECT url,
    list_filter([
      CASE WHEN nw = 0 THEN 'text_blank' END,
      CASE WHEN nw < {TH.min_words} THEN 'too_short' END,
      CASE WHEN nw > {TH.max_words} THEN 'too_long' END,
      CASE WHEN mwl < {TH.min_mean_word_len} THEN 'mean_wl_low' END,
      CASE WHEN mwl > {TH.max_mean_word_len} THEN 'mean_wl_high' END,
      CASE WHEN sym > {TH.max_symbol_word_ratio} THEN 'symbol_ratio' END,
      CASE WHEN lang_pred = 'en' AND swf < {TH.min_stopword_frac} THEN 'stopword_frac' END,
      CASE WHEN dlf > {TH.max_dup_line_frac} THEN 'dup_line' END,
      CASE WHEN tbs > {TH.max_top_bigram_share} THEN 'top_bigram' END,
      CASE WHEN lang_pred NOT IN ({lang_in}) THEN 'lang' END,
      CASE WHEN ppl > {TH.max_perplexity} THEN 'ppl_high' END,
      CASE WHEN slur_cnt > 0 THEN 'slur' END
    ], x -> x IS NOT NULL) AS fired
  FROM lg
)
SELECT url, len(fired) = 0 AS keep,
  round(1.0 - len(fired) / 13.0, 6) AS quality_score,
  coalesce(array_to_string(fired, ','), '') AS drops_csv
FROM r
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict order rotates which queries the driver's 50-of-57 sample
    # covers: the seven rows it skipped in round 4 (the tail of this
    # dict, incl. the then-new jpeg_pixel_stats) lead in round 5 so
    # every query accrues a driver-verified correctness row.
    return {
        "jpeg_pixel_stats": q_jpeg_pixel_stats,
        "frame_sample": q_frame_sample,
        "video_metadata": q_video_metadata,
        "warc_roundtrip": q_warc_roundtrip,
        "pipeline_verdict": q_pipeline_verdict,
        "pipeline_scrub": q_pipeline_scrub,
        "doc_ppl": q_doc_ppl,
        # round-5 additions, placed inside the sampled window
        "host_cadence_salted": q_host_cadence_salted,
        "winnow_pairs_capped": q_winnow_pairs_capped,
        "substring_removal_capped": q_substring_removal_capped,
        "stratified_sample": q_stratified_sample,
        "doc_split": q_doc_split,
        "doc_textstats": q_doc_textstats,
        "doc_quality_rules": q_doc_quality_rules,
        "langid": q_langid,
        "dup_count_metric": q_dup_count_metric,
        "dedup_exact": q_dedup_exact,
        "entity_dup_counts": q_entity_dup_counts,
        "minhash_bands": q_minhash_bands,
        "minhash_candidates": q_minhash_candidates,
        "near_dup_clusters": q_near_dup_clusters,
        "winnow_pairs": q_winnow_pairs,
        "substring_removal": q_substring_removal,
        "simhash": q_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "doc_fingerprint": q_doc_fingerprint,
        "iat_user_stats": q_iat_user_stats,
        "iat_mode": q_iat_mode,
        "iat_regularity": q_iat_regularity,
        "iat_outliers": q_iat_outliers,
        "iat_outage": q_iat_outage,
        "host_cadence": q_host_cadence,
        "iat_regularity_old": q_iat_regularity_old,
        "cadence_pandas": q_cadence_pandas,
        "cosine_near_dup": q_cosine_near_dup,
        "schema_validation": q_schema_validation,
        "six_metric_report": q_six_metric_report,
        "six_metric_report_scale": q_six_metric_report_scale,
        "value_moments": q_value_moments,
        "iat_outliers_median": q_iat_outliers_median,
        "iqr_fences": q_iqr_fences,
        "value_stats": q_value_stats,
        "doc_completeness": q_doc_completeness,
        "doc_format": q_doc_format,
        "token_count": q_token_count,
        "quality_model": q_quality_model,
        "url_normalize": q_url_normalize,
        "dup_line_chars": q_dup_line_chars,
        "dup_paragraph_chars": q_dup_paragraph_chars,
        "dup_ngram_5": q_dup_ngram_5,
        "decontaminate": q_decontaminate,
        "top_ngram_3": q_top_ngram_3,
        "pii_email_count": q_pii_email_count,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_cosine_topk_hd": q_ann_cosine_topk_hd,
        "lsh_signature": q_lsh_signature,
        "lsh_topk": q_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "image_metadata": q_image_metadata,
        "audio_metadata": q_audio_metadata,
        "audio_features": q_audio_features,
        "image_pixel_stats": q_image_pixel_stats,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "doc_textstats": ORACLE_DOC_TEXTSTATS,
        "doc_quality_rules": ORACLE_DOC_RULES,
        "langid": ORACLE_LANGID,
        "dup_count_metric": ORACLE_DUP_COUNT,
        "dedup_exact": ORACLE_DEDUP_EXACT,
        "entity_dup_counts": ORACLE_ENTITY_DUP,
        "minhash_bands": _oracle_minhash_bands(),
        "minhash_candidates": _oracle_minhash_candidates(),
        "near_dup_clusters": _oracle_near_dup_clusters(),
        "winnow_pairs": _oracle_winnow_pairs(),
        "substring_removal": _oracle_substring_removal(),
        "simhash": _oracle_simhash(),
        "ngram_jaccard": _oracle_ngram_jaccard(),
        "doc_fingerprint": _oracle_fingerprint(),
        "iat_user_stats": ORACLE_IAT_USER_STATS,
        "iat_mode": ORACLE_IAT_MODE,
        "iat_regularity": ORACLE_IAT_REG,
        "iat_outliers": ORACLE_IAT_OUT,
        "iat_outage": ORACLE_IAT_OUTAGE,
        "host_cadence": ORACLE_HOST_CADENCE,
        "host_cadence_salted": ORACLE_HOST_CADENCE,  # identical rows
        "winnow_pairs_capped": _oracle_winnow_pairs_capped(),
        "substring_removal_capped": _oracle_substring_removal(max_partners=2),
        "stratified_sample": ORACLE_STRATIFIED_SAMPLE,
        "doc_split": ORACLE_DOC_SPLIT,
        "iat_regularity_old": ORACLE_IAT_REG_OLD,
        "cadence_pandas": ORACLE_CADENCE_PANDAS,
        "cosine_near_dup": ORACLE_COSINE_NEAR_DUP,
        "schema_validation": ORACLE_SCHEMA_VALIDATION,
        "six_metric_report": ORACLE_SIX_METRICS,
        "six_metric_report_scale": ORACLE_SIX_METRICS_SCALE,
        "value_moments": ORACLE_VALUE_MOMENTS,
        "iat_outliers_median": ORACLE_IAT_OUT_MED,
        "iqr_fences": ORACLE_IQR,
        "value_stats": ORACLE_VALUE_STATS,
        "doc_completeness": ORACLE_COMPLETENESS,
        "doc_format": ORACLE_FORMAT,
        "token_count": ORACLE_TOKEN_COUNT,
        "quality_model": _oracle_quality_model_sql(),
        "url_normalize": ORACLE_URL_NORMALIZE,
        "dup_line_chars": ORACLE_DUP_LINE_CHARS,
        "dup_paragraph_chars": ORACLE_DUP_PARA_CHARS,
        "dup_ngram_5": ORACLE_DUP_NGRAM_5,
        "decontaminate": ORACLE_DECONTAMINATE,
        "top_ngram_3": _oracle_top_ngram_sql(3),
        "pii_email_count": ORACLE_PII_EMAIL,
        "ann_cosine_topk": ORACLE_ANN,
        "ann_cosine_topk_hd": ORACLE_ANN_HD,
        "lsh_signature": _oracle_lsh_signature(),
        "lsh_topk": _oracle_lsh_topk(),
        "ann_ivf_topk": _oracle_ann_ivf_topk(),
        "image_metadata": ORACLE_IMAGE_META,
        "audio_metadata": ORACLE_AUDIO_META,
        "audio_features": ORACLE_AUDIO_FEATURES,
        "image_pixel_stats": ORACLE_IMAGE_PIXELS,
        "jpeg_pixel_stats": ORACLE_JPEG_PIXELS,
        "frame_sample": ORACLE_FRAME_SAMPLE,
        "video_metadata": ORACLE_VIDEO_META,
        "warc_roundtrip": ORACLE_WARC_ROUNDTRIP,
        "doc_ppl": _oracle_doc_ppl_sql(),
        "pipeline_verdict": _oracle_pipeline_verdict_sql(),
        # scrub oracle: the lookbehind/lookahead assertions are rewritten
        # as two-pass boundary-consuming replaces (see
        # _oracle_pipeline_scrub_sql) — RE2 lacks lookarounds, not the
        # semantics
        "pipeline_scrub": _oracle_pipeline_scrub_sql(),
    }
