"""The flagship quality DAG: annotate → dedup → rules → verdict.

Reimagines the reference's linear report pipeline
(``/root/reference/scripts/DQReportGenerator.py:13-162``, SURVEY.md §3 EP1)
as one lazy DataFrame plan:

    scan pages → ArrowEvalPython [fused kernel: extract + langid + ppl +
                 repetition + text stats + PII/toxicity scrub]
               → deterministic dedup (url, warc_ts) — the one shuffle,
                 carrying computed columns + an md5 tiebreak, never the
                 raw page content (pruned by Catalyst)
               → rules_fired lineage array + keep verdict + quality_score
                 (whole-stage codegen over the kernel's stats columns)

Physical plan (pinned by tests/test_plan_shape.py): ONE Python boundary,
ONE exchange, WindowGroupLimit partial pre-pruning the dedup groups
map-side, everything else codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig, DEFAULT_CONFIG
from ..functions import textstats as ts

# ---------------------------------------------------------------------------
# deterministic dedup (reference D2, SURVEY.md §2.3 — keep-first with a
# content-hash tiebreak so the winner is stable under repartitioning)
# ---------------------------------------------------------------------------


def content_tiebreak() -> Column:
    """The D2 content-hash tiebreak: md5 over BOTH content columns
    (text + hex(html)), so the winner is deterministic on the WARC
    ingest path too, where content lives in ``html`` and ``text`` is
    null — hashing only text would give every such page the constant
    md5('') and a repartitioning-dependent winner. A NUL delimiter
    separates the two fields so (text='AB', html=NULL) cannot collide
    with (text='A', html=0x??) — without it the concatenation is
    ambiguous and two different-content rows in one dedup group could
    share a tiebreak. Spark ``hex`` on binary yields uppercase, matched
    by the pandas oracle (tests/oracle.py) via ``bytes.hex().upper()``."""
    return F.md5(
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("\u0000"),
            F.coalesce(F.hex(F.col("html")), F.lit("")),
        )
    )


# ---------------------------------------------------------------------------
# rule set — (rule_id, condition Column, drops?) in frozen order.
# The oracle (tests/oracle.py) evaluates the same list in the same order.
# ---------------------------------------------------------------------------


def drop_rules(cfg: PipelineConfig) -> list[tuple[str, Column]]:
    th = cfg.thresholds
    return [
        # blank <=> zero tokens (null / empty / whitespace-only text all
        # tokenize to []), so the rule reads the kernel's nw instead of
        # re-scanning the text in the JVM
        ("text_blank", F.col("nw") == 0),
        ("ts_null", F.col("warc_ts").isNull()),
        ("too_short", F.col("nw") < th.min_words),
        ("too_long", F.col("nw") > th.max_words),
        ("mean_wl_low", F.col("mean_wl") < th.min_mean_word_len),
        ("mean_wl_high", F.col("mean_wl") > th.max_mean_word_len),
        ("symbol_ratio", F.col("symbol_ratio") > th.max_symbol_word_ratio),
        (
            "stopword_frac",
            (F.col("lang_pred") == "en") & (F.col("stopword_frac") < th.min_stopword_frac),
        ),
        ("dup_line", F.col("dup_line_frac") > th.max_dup_line_frac),
        ("top_bigram", F.col("top_bigram_share") > th.max_top_bigram_share),
        ("lang", ~F.col("lang_pred").isin(*th.allowed_langs)),
        ("ppl_high", F.col("ppl") > th.max_perplexity),
        ("slur", F.col("toxicity_slur") > 0),
    ]


def flag_rules(cfg: PipelineConfig) -> list[tuple[str, Column]]:
    return [
        (
            "lang_mismatch",
            F.col("lang").isNotNull() & (F.col("lang") != F.col("lang_pred")),
        ),
        ("pii_email", F.col("pii_email") > 0),
        ("pii_ip", F.col("pii_ip") > 0),
        ("pii_phone", F.col("pii_phone") > 0),
    ]


# static ids (building Columns needs an active session, so not derived)
DROP_RULE_IDS = [
    "text_blank", "ts_null", "too_short", "too_long", "mean_wl_low",
    "mean_wl_high", "symbol_ratio", "stopword_frac", "dup_line",
    "top_bigram", "lang", "ppl_high", "slur",
]


def _fired_array(rules: list[tuple[str, Column]]) -> Column:
    tagged = F.array(*[
        F.when(cond, F.lit(rid)).otherwise(F.lit(None)) for rid, cond in rules
    ])
    return F.filter(tagged, lambda x: x.isNotNull())


# ---------------------------------------------------------------------------
# stages
# ---------------------------------------------------------------------------


def annotate(df: DataFrame, *, with_host: bool = True) -> DataFrame:
    """The single fused UDF pass. Adds: lang_pred, lang_conf, ppl,
    top_bigram_share, scrubbed_text, PII/slur counts, nw, mean_wl,
    symbol_ratio, stopword_frac, dup_line_frac (all from the ONE
    ArrowEvalPython node — see udfs.enrich_udf / functions/kernel.py),
    plus host (native substring_index on the url). The JVM side of this
    stage is just scan + Arrow transport + the host projection, so task
    threads spend their time feeding Python workers instead of competing
    with them for cores.

    The text column is nulled out when html is present (extraction
    precedence means the kernel would ignore it anyway), so page content
    crosses the JVM->Python boundary once, not twice.

    ``with_host=False`` skips the host projection so a caller that
    shuffles the annotated frame (run_pipeline's dedup exchange) can
    re-derive host from the url AFTER the exchange instead of shipping
    a second copy of the hostname through it (guide §2.3: shuffle keys
    and metadata, not derivable payload)."""
    from ..functions.udfs import enrich_udf

    ann = enrich_udf(
        F.col("html"),
        F.when(F.col("html").isNull(), F.col("text")),
    )
    df = df.withColumn("_ann", ann).select("*", "_ann.*").drop("_ann")
    if with_host:
        df = df.withColumn("host", ts.host_of(F.col("url")))
    return df


def extracted_text_col() -> Column:
    """Native (whole-stage-codegen) twin of ``textcore.extract_text``:
    decode html then strip tags, else the text column. ``make_valid_utf8``
    replaces each malformed byte sequence with U+FFFD exactly as Python's
    ``errors="replace"`` does (pinned on invalid-UTF-8 html by
    tests/test_pipeline_parity.py), so the bytes are identical for any
    input. ``decode(html, 'UTF-8')`` would raise on invalid UTF-8 under
    ANSI mode and fail the task."""
    return F.when(
        F.col("html").isNotNull(),
        F.regexp_replace(
            F.make_valid_utf8(F.col("html").cast("string")), "<[^>]*>", ""
        ),
    ).otherwise(F.coalesce(F.col("text"), F.lit("")))


def materialize_scrubbed(df: DataFrame) -> DataFrame:
    """Fill the NULL-means-unchanged ``scrubbed_text`` convention back to
    full text (the kernel's output convention, defined in the
    ``functions/kernel.py`` module docstring): NULL rows get the
    extracted text via the native twin — JVM-side codegen, no second
    Python pass.
    Call this only at sinks that must ship the bytes; inside the DAG the
    NULL form keeps the Arrow/shuffle/parquet footprint near zero on
    clean web text. Requires the html/text source columns still present
    (i.e. before ``pages_out``'s projection)."""
    return df.withColumn(
        "scrubbed_text",
        F.coalesce(F.col("scrubbed_text"), extracted_text_col()),
    )


def verdict(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """keep verdict + rules_fired lineage + quality_score in [0,1]."""
    drops = drop_rules(cfg)
    flags = flag_rules(cfg)
    dropped = _fired_array(drops)
    df = (
        df.withColumn("rules_fired", F.concat(dropped, _fired_array(flags)))
        .withColumn("n_drop_fired", F.size(dropped))
        .withColumn("keep", F.size(dropped) == 0)
        .withColumn(
            "quality_score",
            F.lit(1.0) - F.col("n_drop_fired") / F.lit(float(len(drops))),
        )
        .drop("n_drop_fired")
    )
    return df


def run_pipeline(
    df: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG, *, dedup: bool = True
) -> DataFrame:
    """Full per-document DAG over a pages DataFrame
    (url, warc_ts, html, text, lang [, props_json]).

    Stage order is ANNOTATE-FIRST, then dedup: the fused UDF runs inside
    the scan stage, and because nothing downstream reads html/text
    anymore, Catalyst prunes both from the dedup exchange — only the
    computed columns plus a 32-char md5 tiebreak shuffle (~half the
    bytes of shuffling raw page content). Results are identical to
    dedup-first: the winner per (url, warc_ts) is picked by the same
    content-md5 order and annotations are deterministic per row. The
    trade is annotating exact-duplicate rows before dropping them —
    right when exact (url, warc_ts) dups are the rare case. With
    ``dedup=False`` every input row is annotated and judged (the
    ``--no-dedup`` flag of ``jobs/run_pipeline.py``).
    """
    if dedup:
        # content tiebreak materialized BEFORE annotate so the window
        # sort key shuffles as 16 bytes instead of dragging `text`
        # through the exchange (D2 determinism, SURVEY.md §2.3); hashes
        # text AND html so WARC-ingested pages get a real content order.
        # unhex(md5) halves the hex form's shuffle bytes with IDENTICAL
        # ordering: hex digits 0-9A-F are monotone in ASCII, so the hex
        # string's lexicographic order equals the raw bytes' unsigned
        # order — same winner per group (pinned by test_dedup_ops).
        # host is re-derived from url AFTER the exchange (guide §2.3) —
        # same rows, ~20 fewer bytes shuffled per row.
        from ..operators.dedup import dedup_exact

        df = annotate(
            df.withColumn("_tb", F.unhex(content_tiebreak())),
            with_host=False,
        )
        df = dedup_exact(
            df,
            list(cfg.dedup_keys),
            [F.col("_tb").asc(), F.coalesce(F.col("lang"), F.lit("")).asc()],
        ).drop("_tb")
        df = df.withColumn("host", ts.host_of(F.col("url")))
    else:
        df = annotate(df)
    return verdict(df, cfg)


def host_cadence(pages: DataFrame) -> DataFrame:
    """Per-host crawl-cadence stats over warc_ts (north_star: the
    reference's IAT regularity/outlier math per url-host group).

    Returns one row per host: n_pages, reg_score, out_score. Hosts whose
    modal IAT is 0 (same-second bursts) get NULL regularity (no defined
    relative error) but are still scored for outliers; hosts with no
    scoreable IAT at all (single page) get NULL for both.

    The IAT lag partitions by host, and ``cadence.iat_freq_scores``
    scores the (host, iat) rows; the scores are left-joined onto the
    per-host page counts.
    """
    from ..operators import cadence

    d = _host_ts(pages)
    return _host_scores(d, cadence.with_iat(d, "host", "warc_ts"))


def host_cadence_salted(
    pages: DataFrame, ts_bucket_sec: int = 86400
) -> DataFrame:
    """Skew-safe twin of :func:`host_cadence` (identical rows, pinned by
    tests): survives one mega-host owning half the corpus."""
    return _host_cadence_agg(_host_ts(pages), ts_bucket_sec)


def _host_ts(pages: DataFrame) -> DataFrame:
    from ..functions import textstats as ts

    return pages.select(
        ts.host_of(F.col("url")).alias("host"), F.col("warc_ts")
    ).filter(F.col("warc_ts").isNotNull())


def _host_scores(d: DataFrame, iat: DataFrame) -> DataFrame:
    """Per-host page counts of ``d`` left-joined with the cadence scores
    of the ``(host, iat)`` rows, rounded to 6dp."""
    from ..operators import cadence

    scores = cadence.iat_freq_scores(iat, ["host"])
    npages = d.groupBy("host").agg(F.count(F.lit(1)).alias("n_pages"))
    return npages.join(scores, "host", "left").select(
        "host",
        "n_pages",
        F.round("regularity", 6).alias("reg_score"),
        F.round("outliers", 6).alias("out_score"),
    )


def _host_cadence_agg(d: DataFrame, ts_bucket_sec: int = 86400) -> DataFrame:
    """host_cadence over pre-projected (host, warc_ts) with NO
    host-wide single-task stage over the raw rows (a two-stage salted
    aggregate, specialized to cadence: the time bucket is the salt):

      * the IAT lag windows on (host, time-bucket) — a mega-host's rows
        spread over its crawl-duration/bucket buckets; bucket-boundary
        rows diff against the previous bucket's max via a per-bucket
        bounds table (rows per host = #buckets, tiny);
      * mode, MAD, regularity and outliers: ``cadence.iat_freq_scores``
        collapses the IATs to ``groupBy(host, iat)`` counts (map-side
        partial) — every later stage reads only the frequency-collapsed
        rows.

    Every big-table stage either partial-aggregates map-side or
    partitions on (host, bucket); only per-host-small tables see
    host-wide windows."""
    from pyspark.sql import Window

    width = F.lit(int(ts_bucket_sec) * 1_000_000)
    micros = F.unix_micros(F.col("warc_ts").cast("timestamp"))
    b = d.select(
        "host",
        micros.alias("_us"),
        F.floor(micros / width).cast("long").alias("_bkt"),
    )
    w_hb = Window.partitionBy("host", "_bkt").orderBy("_us")
    x = b.withColumn("_prev", F.lag("_us").over(w_hb))
    bounds = b.groupBy("host", "_bkt").agg(F.max("_us").alias("_last"))
    w_seq = Window.partitionBy("host").orderBy("_bkt")
    bounds = bounds.select(
        "host", "_bkt", F.lag("_last").over(w_seq).alias("_prev_last")
    )
    x = x.join(bounds, ["host", "_bkt"])
    prev = F.coalesce(F.col("_prev"), F.col("_prev_last"))
    iat_raw = (F.col("_us") - prev) / F.lit(1_000_000.0)
    return _host_scores(
        d, x.select("host", F.when(iat_raw >= 0, iat_raw).alias("iat"))
    )


# scrubbed_text carries the NULL-means-unchanged convention (kernel.py):
# NULL <=> no scrub rule fired <=> scrubbed == extracted text. Apply
# materialize_scrubbed BEFORE this projection to ship full bytes.
OUTPUT_COLUMNS = [
    "url", "warc_ts", "host", "lang", "lang_pred", "lang_conf", "ppl",
    "nw", "mean_wl", "symbol_ratio", "stopword_frac", "dup_line_frac",
    "top_bigram_share", "pii_email", "pii_ip", "pii_phone", "toxicity_slur",
    "keep", "quality_score", "rules_fired", "scrubbed_text",
]


def pages_out(df: DataFrame) -> DataFrame:
    return df.select(*OUTPUT_COLUMNS)
