"""Vendored oracle: driver-side pandas implementation of (a) the flagship
quality DAG and (b) the reference's six IoT metrics with quirks Q1-Q9.

(a) validates the Spark PLUMBING (Arrow UDF batching, native-Column twins,
window dedup, distribution) against a straight-line pandas run;
``oracle_enrich`` is the per-doc enrich reference the vectorized kernel
is pinned to (tests/test_kernel_parity.py), and ``lang_id`` the per-doc
language reference. The per-row kernels (ppl / scrub) are intentionally
the same ``textcore``/``lm`` modules — byte-identical scrubbed text is
the contract (BASELINE.json input_hint) — while the heuristic stats are an independent
second implementation of the pinned tokenization spec.

(b) re-derives the reference semantics exactly as cited in SURVEY.md §2;
this implementation path was validated against both golden reports
(suratITMS / puneAQM) during the survey.

(c) the similarity kernel's arithmetic in plain Python floats
(``operators/similarity.py`` is pinned to it bit for bit).

(d) the row-level Spark forms of the IAT regularity (A8) and outlier (A7)
scores that ``cadence.iat_freq_scores`` is pinned to.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_quality_assessment_spark.config import PipelineConfig, DEFAULT_CONFIG
from data_quality_assessment_spark.functions import textcore
from data_quality_assessment_spark.functions.lm import get_model
from data_quality_assessment_spark.operators.cadence import _join_stat, mode_smallest

# ---------------------------------------------------------------------------
# (a) flagship pipeline oracle
# ---------------------------------------------------------------------------


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _content_tb(r) -> str:
    """md5 over text + NUL + uppercase-hex(html) — mirrors
    plans/pipeline.content_tiebreak (Spark hex(binary) is uppercase;
    the NUL delimiter disambiguates the field boundary)."""
    t = r.get("text") if isinstance(r.get("text"), str) else ""
    h = r.get("html")
    hx = h.hex().upper() if isinstance(h, (bytes, bytearray)) else ""
    return _md5(t + "\x00" + hx)


def oracle_dedup(df: pd.DataFrame) -> pd.DataFrame:
    """Deterministic keep-one per (url, warc_ts):
    min (md5(text + hex(html)), lang)."""
    d = df.copy()
    d["_tb"] = d.apply(_content_tb, axis=1)
    d["_tb2"] = d["lang"].map(lambda x: x if isinstance(x, str) else "")
    d["_ts_key"] = d["warc_ts"].astype("object").map(
        lambda t: "NULL" if pd.isna(t) else str(t)
    )
    d = d.sort_values(["url", "_ts_key", "_tb", "_tb2"], kind="mergesort")
    d = d.drop_duplicates(subset=["url", "_ts_key"], keep="first")
    return d.drop(columns=["_tb", "_tb2", "_ts_key"])


# Unicode script ranges of the language identifier; the kernel's
# lead-byte masks (``kernel._script_counts_bytes``) are pinned to them.
SCRIPT_RANGES: dict[str, tuple[tuple[int, int], ...]] = {
    "xx_cyr": ((0x0400, 0x04FF),),
    "xx_cjk": ((0x4E00, 0x9FFF), (0x3040, 0x30FF)),
    "xx_deva": ((0x0900, 0x097F),),
}
_LATIN = ((0x41, 0x5A), (0x61, 0x7A))


def _build_script_bounds():
    """Flatten _LATIN + SCRIPT_RANGES into one sorted boundary array so a
    single ``searchsorted`` + ``bincount`` classifies every codepoint
    (the ranges are disjoint, so slot counts equal the per-range mask
    counts exactly)."""
    spans: list[tuple[int, int, str]] = [(lo, hi, "latin") for lo, hi in _LATIN]
    for k, rngs in SCRIPT_RANGES.items():
        spans.extend((lo, hi, k) for lo, hi in rngs)
    spans.sort()
    for (_, hi_a, _), (lo_b, _, _) in zip(spans, spans[1:]):
        assert hi_a < lo_b, "script ranges must be disjoint"
    bounds: list[int] = []
    slot_label: dict[int, str] = {}
    for lo, hi, label in spans:
        bounds.extend((lo, hi + 1))  # [lo, hi] inclusive -> right-open hi+1
        slot_label[len(bounds) - 1] = label  # odd slot = inside the range
    return np.asarray(bounds, dtype=np.uint32), slot_label


_SCRIPT_BOUNDS, _SLOT_LABEL = _build_script_bounds()


def script_counts(text: str) -> tuple[int, dict[str, int]]:
    """(latin_count, {script: count}) over the codepoint array."""
    cp = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    idx = np.searchsorted(_SCRIPT_BOUNDS, cp, side="right")
    c = np.bincount(idx, minlength=len(_SCRIPT_BOUNDS) + 1)
    latin = 0
    counts = {k: 0 for k in SCRIPT_RANGES}
    for slot, label in _SLOT_LABEL.items():
        v = int(c[slot]) if slot < len(c) else 0
        if label == "latin":
            latin += v
        else:
            counts[label] += v
    return latin, counts


def lang_id(text: str, tokens: list[str] | None = None) -> tuple[str, float]:
    """(lang, confidence) of one doc — the per-doc reference the
    kernel's language decision is pinned to: Unicode-script voting for
    non-Latin scripts, stopword and lexicon hit rates for English.
    ``tokens``: ``textcore.tokenize(text)``, if the caller has it."""
    if not text:
        return ("unk", 0.0)
    latin, counts = script_counts(text)
    letters = latin + sum(counts.values())
    if letters == 0:
        return ("unk", 0.0)
    best_script = max(counts, key=lambda k: (counts[k], k))
    frac = counts[best_script] / letters
    if frac >= 0.30:
        return (best_script, round(frac, 6))
    if latin / letters >= 0.50:
        ids = textcore.word_ids(
            tokens if tokens is not None else textcore.tokenize(text)
        )
        n = len(ids)
        sf = int((ids < textcore.N_STOPWORDS).sum()) / n if n else 0.0
        iv = int((ids != textcore.VOCAB_UNK).sum()) / n if n else 0.0
        conf = min(1.0, 0.6 * iv + 1.5 * sf + 0.05)
        if conf >= 0.20:
            return ("en", round(conf, 6))
        return ("unk", round(conf, 6))
    return ("unk", round(latin / letters, 6))


def oracle_enrich(html, text, model=None, ft=None) -> dict:
    """One doc's 14 enrich columns as the unfused composition of the
    public per-doc functions — the reference ``kernel.enrich_batch_arrow``
    is pinned to. ``model`` defaults to ``lm.get_model()``; a fastText
    ``ft`` replaces the heuristic langid, as the kernel's hooks do."""
    if html is not None:
        txt = textcore.extract_text(bytes(html))
    elif isinstance(text, str):
        txt = text
    else:
        txt = ""
    model = model if model is not None else get_model()
    toks = textcore.tokenize(txt)
    lang, conf = (
        ft.predict_lang(txt) if ft is not None
        else lang_id(txt, toks)
    )
    scrubbed, c = textcore.scrub_text(txt)
    nw = len(toks)
    return {
        "lang_pred": lang,
        "lang_conf": conf,
        "ppl": model.perplexity(txt, toks),
        "top_bigram_share": textcore.top_bigram_share(txt, toks),
        # NULL-means-unchanged convention (kernel.py docstring)
        "scrubbed_text": scrubbed if any(c.values()) else None,
        "pii_email": c["pii_email"],
        "pii_ip": c["pii_ip"],
        "pii_phone": c["pii_phone"],
        "toxicity_slur": c["toxicity_slur"],
        "nw": nw,
        "mean_wl": textcore.mean_word_len(txt),
        "symbol_ratio": textcore.symbol_word_ratio(txt),
        "stopword_frac": textcore.stopword_frac(txt),
        "dup_line_frac": textcore.dup_line_frac(txt),
    }


def oracle_pipeline(
    df: pd.DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG, dedup: bool = True
) -> pd.DataFrame:
    th = cfg.thresholds
    model = get_model()
    if dedup:
        df = oracle_dedup(df)
    out = []
    for _, r in df.iterrows():
        html, text = r.get("html"), r.get("text")
        if html is not None and not (isinstance(html, float) and pd.isna(html)):
            txt = textcore.extract_text(bytes(html))
        elif isinstance(text, str):
            txt = text
        else:
            txt = ""
        lang_pred, lang_conf = lang_id(txt)
        ppl = model.perplexity(txt)
        tbs = textcore.top_bigram_share(txt)
        nw = textcore.n_words(txt)
        mean_wl = textcore.mean_word_len(txt)
        sym = textcore.symbol_word_ratio(txt)
        swf = textcore.stopword_frac(txt)
        dlf = textcore.dup_line_frac(txt)
        scrubbed, counts = textcore.scrub_text(txt)
        ts_null = pd.isna(r["warc_ts"])
        declared = r.get("lang")

        drops = [
            ("text_blank", txt == "" or all(ch in " \t\n\r\f\x0b" for ch in txt)),
            ("ts_null", bool(ts_null)),
            ("too_short", nw < th.min_words),
            ("too_long", nw > th.max_words),
            ("mean_wl_low", mean_wl < th.min_mean_word_len),
            ("mean_wl_high", mean_wl > th.max_mean_word_len),
            ("symbol_ratio", sym > th.max_symbol_word_ratio),
            ("stopword_frac", lang_pred == "en" and swf < th.min_stopword_frac),
            ("dup_line", dlf > th.max_dup_line_frac),
            ("top_bigram", tbs > th.max_top_bigram_share),
            ("lang", lang_pred not in th.allowed_langs),
            ("ppl_high", ppl > th.max_perplexity),
            ("slur", counts["toxicity_slur"] > 0),
        ]
        flags = [
            ("lang_mismatch", isinstance(declared, str) and declared != lang_pred),
            ("pii_email", counts["pii_email"] > 0),
            ("pii_ip", counts["pii_ip"] > 0),
            ("pii_phone", counts["pii_phone"] > 0),
        ]
        fired = [rid for rid, f in drops if f] + [rid for rid, f in flags if f]
        n_drop = sum(1 for _, f in drops if f)
        out.append({
            "url": r["url"],
            "warc_ts": r["warc_ts"],
            "keep": n_drop == 0,
            "rules_fired": fired,
            "lang_pred": lang_pred,
            "lang_conf": lang_conf,
            "ppl": ppl,
            "nw": nw,
            "mean_wl": mean_wl,
            "symbol_ratio": sym,
            "stopword_frac": swf,
            "dup_line_frac": dlf,
            "top_bigram_share": tbs,
            "quality_score": 1.0 - n_drop / float(len(drops)),
            "scrubbed_text": scrubbed,
        })
    return pd.DataFrame(out)


# ---------------------------------------------------------------------------
# (b) reference six metrics — semantics per SURVEY.md §2 incl. quirks Q1-Q9
# ---------------------------------------------------------------------------


def _mode_smallest(values: pd.Series):
    """Most frequent value; ties -> smallest (Q3,
    /root/reference/scripts/metricModules.py:55,78)."""
    vc = values.value_counts()
    top = vc[vc == vc.max()].index
    return min(top)


@dataclass
class SixMetrics:
    dupe: float
    regularity: float
    outliers: float
    format_adherence: float
    unknown_absence: float
    completeness: float

    def avg(self) -> float:
        return round(
            (self.dupe + self.regularity + self.outliers + self.format_adherence
             + self.unknown_absence + self.completeness) / 6, 3)


def oracle_iat(df: pd.DataFrame, entity: str, ts: str) -> pd.Series:
    """IAT per reference pp.preProcess (PreProcessing.py:100-108): sort by
    (entity, ts), GLOBAL diff (crosses entity boundaries — Q1), keep >=0
    (zeros kept — Q2), drop NaN."""
    d = df[[ts, entity]].copy()
    d[ts] = pd.to_datetime(d[ts], errors="coerce")
    d = d.sort_values([entity, ts], kind="mergesort")
    iat = d[ts].diff().dt.total_seconds()
    iat = iat.where(iat >= 0)
    return iat.dropna()


def oracle_dupe_metric(df: pd.DataFrame, keys: list[str]) -> float:
    """D1 (metricModules.py:95-99): runs on the RAW frame (Q9)."""
    dupes = len(df) - len(df.drop_duplicates(subset=keys))
    return round(1 - dupes / len(df), 3)


def oracle_regularity(iat: pd.Series) -> float:
    """A8 (metricModules.py:54-70): RAE accumulation vs mode."""
    mode = _mode_smallest(iat)
    good, count, bad = 0.0, 0.0, 0.0
    for x in iat:
        rae = abs(x - mode) / mode if mode != 0 else float("inf")
        if rae <= 0.5:
            good += 1 - 2 * rae
            count += 1
        else:
            bad += 2 * rae
    return round(good / (count + bad), 3) if (count + bad) else 0.0


def oracle_outliers(iat: pd.Series) -> float:
    """A7 (metricModules.py:78-88): mode-centered MAD, ONE-SIDED mod-z > 3.5
    (Q4), denominator = post-clean frame length."""
    mode = _mode_smallest(iat)
    mad = float((iat - mode).abs().median())
    if mad == 0:
        # reference would divide by zero; defined here as "no outliers"
        n_out = 0
    else:
        modz = 0.6745 * (iat - mode) / mad
        n_out = int((modz > 3.5).sum())
    return round(1 - n_out / len(iat), 3)


def oracle_schema_metrics(
    df: pd.DataFrame, required: list[str], known: list[str]
) -> tuple[float, float, float]:
    """Format / unknown-attribute / completeness (metricModules.py:104-169,
    DQReportGenerator.py:65,86,109). In the typed-table world a 'format
    error' is a JSON-null in a typed required field (Q6 — the reference's
    677 Surat format errors are all nulls), an 'unknown attribute' is a
    non-null field outside the declared set, and completeness counts
    missing-or-null required fields."""
    n = len(df)
    err_docs = 0
    unk_docs = 0
    missing_total = 0
    for _, r in df.iterrows():
        nulls = [c for c in required if pd.isna(r.get(c))]
        if nulls:
            err_docs += 1
        missing_total += len(nulls)
        extras = [c for c in df.columns if c not in known and not pd.isna(r.get(c))]
        if extras:
            unk_docs += 1
    fmt = 1 - err_docs / n
    unk = 1 - unk_docs / n
    comp = 1 - missing_total / (n * len(required))
    return fmt, unk, comp


def oracle_six_metrics(
    df: pd.DataFrame,
    entity: str = "entity_id",
    ts: str = "observationDateTime",
    required: list[str] | None = None,
    known: list[str] | None = None,
) -> SixMetrics:
    required = required or ["entity_id", "observationDateTime", "payload_str", "payload_num"]
    known = known or ["entity_id", "observationDateTime", "payload_str", "payload_num"]
    dupe = oracle_dupe_metric(df, [entity, ts])
    # reference order: dedup THEN IAT (DQReportGenerator.py:129-131)
    dd = df.drop_duplicates(subset=[entity, ts], ignore_index=True)
    iat = oracle_iat(dd, entity, ts)
    reg = oracle_regularity(iat)
    out = oracle_outliers(iat)
    fmt, unk, comp = oracle_schema_metrics(df, required, known)
    return SixMetrics(dupe, reg, out, round(fmt, 4), round(unk, 4), comp)


# ---------------------------------------------------------------------------
# (c) similarity kernel reference
# ---------------------------------------------------------------------------


def _fold(terms) -> float:
    """Left-to-right sum starting from the first term (no 0.0 seed)."""
    it = iter(terms)
    acc = next(it)
    for t in it:
        acc += t
    return acc


def oracle_cosine(a, b) -> float:
    """dot / (sqrt(na) * sqrt(nb)), each sum a left-to-right fold."""
    dot = _fold(x * y for x, y in zip(a, b))
    na = _fold(x * x for x in a)
    nb = _fold(y * y for y in b)
    return dot / (math.sqrt(na) * math.sqrt(nb))


def oracle_plane_dots(vec, weights) -> list[float]:
    """dot(vec, w) for every weight row w, each a left-to-right fold."""
    return [_fold(x * w for x, w in zip(vec, row)) for row in weights]


# ---------------------------------------------------------------------------
# (d) row-level IAT scores (Spark) — the reference the frequency-table
#     kernel ``cadence.iat_freq_scores`` is compared against
# ---------------------------------------------------------------------------


def regularity_score(
    df: DataFrame, iat_col: str = "iat", group: list[str] | None = None
) -> DataFrame:
    """A8 as pure columnar aggregation. Returns [group cols,] reg_score."""
    group = group or []
    clean = df.filter(F.col(iat_col).isNotNull())
    # groups whose modal IAT is 0 (duplicate timestamps dominate) have no
    # defined relative error — excluded from the output (ANSI-safe: Spark 4
    # raises on division by zero rather than returning NULL)
    m = mode_smallest(clean, iat_col, group).filter(F.col("mode") != 0)
    j = _join_stat(clean, m, group)
    rae = F.abs(F.col(iat_col) - F.col("mode")) / F.col("mode")
    good = F.sum(F.when(rae <= 0.5, 1 - 2 * rae).otherwise(F.lit(0.0)))
    cnt = F.sum(F.when(rae <= 0.5, F.lit(1.0)).otherwise(F.lit(0.0)))
    bad = F.sum(F.when(rae > 0.5, 2 * rae).otherwise(F.lit(0.0)))
    score = good / (cnt + bad)
    return j.groupBy(*group).agg(F.round(score, 6).alias("reg_score"))


def outlier_score(
    df: DataFrame, iat_col: str = "iat", group: list[str] | None = None
) -> DataFrame:
    """A7 (mode-centered MAD, one-sided mod-z > 3.5). Returns out_score."""
    group = group or []
    clean = df.filter(F.col(iat_col).isNotNull())
    m = mode_smallest(clean, iat_col, group)
    j = _join_stat(clean, m, group)
    dev = j.withColumn("_absdev", F.abs(F.col(iat_col) - F.col("mode")))
    mad = dev.groupBy(*group).agg(
        F.median("_absdev").alias("mad"), F.first("mode").alias("mode")
    )
    j2 = _join_stat(clean, mad, group)
    # try_divide: NULL (never an ANSI error) when mad == 0; NULL > 3.5 is
    # false, matching the reference's "no outliers when MAD degenerate"
    modz = F.try_divide(0.6745 * (F.col(iat_col) - F.col("mode")), F.col("mad"))
    is_out = F.when(
        (F.col("mad") > 0) & (modz > 3.5), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    return j2.groupBy(*group).agg(
        F.round(1 - F.sum(is_out) / F.count(F.lit(1)), 6).alias("out_score")
    )
