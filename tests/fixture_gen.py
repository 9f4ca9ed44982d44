"""Per-row fixture generators the tests pin (FIXTURES.md F1 and F3).

``gen_pages`` is the deterministic pages table (url, warc_ts, html,
text, lang, props_json) with the F1 pathology quotas: 5% duplicate
(url, warc_ts), 3% null text, 2% null warc_ts, 8% non-English, 5%
gibberish, 6% repetition-heavy, 10% PII-bearing, 1% unknown extra props
field, 2% wrong declared lang. Clean text is a per-word walk
(``sample_words``) of the frozen Markov chain the perplexity model was
trained on (``functions.lm``). ``gen_iot`` mirrors the reference's
sensor-packet frame (F3). Benchmarks use the vectorized
``sources.fixture_gen.gen_pages_fast`` instead; its rng layout differs.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from data_quality_assessment_spark.functions.lm import _TRANS, _V
from data_quality_assessment_spark.functions.textcore import (
    SLUR_LEXICON,
    VOCAB,
)
from data_quality_assessment_spark.sources.fixture_gen import (
    _CJK,
    _CYR,
    _DEVA,
    _LATIN,
    BASE_TS,
    N_HOSTS,
    PII_SNIPPETS,
    ZIPF_S,
)

_START = np.full(_V, 1.0 / _V)


def sample_words(rng: np.random.RandomState, n: int) -> list[str]:
    """Sample an n-word sequence from the frozen Markov chain."""
    out = []
    cur = int(rng.choice(_V, p=_START))
    out.append(VOCAB[cur])
    for _ in range(n - 1):
        cur = int(rng.choice(_V, p=_TRANS[cur]))
        out.append(VOCAB[cur])
    return out


def _clean_text(rng: np.random.RandomState, n_lines: int = 8) -> str:
    lines = []
    for _ in range(n_lines):
        nw = int(rng.randint(8, 16))
        lines.append(" ".join(sample_words(rng, nw)))
    return "\n".join(lines)


def _foreign_text(rng: np.random.RandomState, alphabet: list[str]) -> str:
    words = []
    for _ in range(int(rng.randint(30, 80))):
        k = int(rng.randint(2, 8))
        words.append("".join(rng.choice(alphabet, k)))
    return " ".join(words)


def _gibberish(rng: np.random.RandomState) -> str:
    words = []
    for _ in range(int(rng.randint(30, 80))):
        k = int(rng.randint(3, 11))
        words.append("".join(rng.choice(_LATIN, k)))
    return " ".join(words)


def _repetitive(rng: np.random.RandomState) -> str:
    line = " ".join(sample_words(rng, 10))
    reps = int(rng.randint(6, 15))
    return "\n".join([line] * reps + [" ".join(sample_words(rng, 8))])


def _pii_text(rng: np.random.RandomState, with_slur: bool) -> str:
    base = _clean_text(rng, 6)
    snippet = PII_SNIPPETS[int(rng.randint(len(PII_SNIPPETS)))]
    parts = base.split("\n")
    parts.insert(int(rng.randint(len(parts))), snippet)
    if with_slur:
        slur = SLUR_LEXICON[int(rng.randint(len(SLUR_LEXICON)))]
        parts.insert(int(rng.randint(len(parts))), f"what a {slur} move")
    return "\n".join(parts)


def gen_pages(n: int = 1000, seed: int = 42) -> pd.DataFrame:
    """Deterministic pages table: url, warc_ts, html, text, lang, props_json."""
    rng = np.random.RandomState(seed)
    # Zipf host skew — top host ≈ 15% of rows
    w = 1.0 / np.arange(1, N_HOSTS + 1) ** ZIPF_S
    w /= w.sum()
    host_idx = rng.choice(N_HOSTS, n, p=w)
    # per-host cadence: 90% regular interval + small jitter, 10% irregular
    regular = rng.rand(N_HOSTS) < 0.9
    interval = rng.randint(10, 3600, N_HOSTS)

    seen = np.zeros(N_HOSTS, dtype=np.int64)
    rows = []
    for i in range(n):
        h = int(host_idx[i])
        k = int(seen[h])
        seen[h] += 1
        if regular[h]:
            offset = k * int(interval[h]) + int(rng.randint(0, 3))
        else:
            offset = k * int(interval[h]) + int(rng.randint(0, 10 * int(interval[h])))
        ts = BASE_TS + dt.timedelta(seconds=h + offset)
        url = f"https://host{h:03d}.example.com/p{i}"
        rows.append([url, ts, None, "en", '{"k": 1}'])

    df = pd.DataFrame(rows, columns=["url", "warc_ts", "text", "lang", "props_json"])

    # category assignment over a seeded shuffle
    order = rng.permutation(n)
    q = {
        "null_text": int(0.03 * n),
        "null_ts": int(0.02 * n),
        "cyr": int(0.03 * n),
        "cjk": int(0.03 * n),
        "deva": int(0.02 * n),
        "gibberish": int(0.05 * n),
        "repetitive": int(0.06 * n),
        "pii": int(0.07 * n),
        "pii_slur": int(0.03 * n),
    }
    pos = 0
    cat = np.array(["clean"] * n, dtype=object)
    for name, cnt in q.items():
        cat[order[pos:pos + cnt]] = name
        pos += cnt

    texts, langs = [], []
    for i in range(n):
        c = cat[i]
        if c == "null_text":
            texts.append(None); langs.append(None)
        elif c == "cyr":
            texts.append(_foreign_text(rng, _CYR)); langs.append("xx_cyr")
        elif c == "cjk":
            texts.append(_foreign_text(rng, _CJK)); langs.append("xx_cjk")
        elif c == "deva":
            texts.append(_foreign_text(rng, _DEVA)); langs.append("xx_deva")
        elif c == "gibberish":
            texts.append(_gibberish(rng)); langs.append("en")
        elif c == "repetitive":
            texts.append(_repetitive(rng)); langs.append("en")
        elif c == "pii":
            texts.append(_pii_text(rng, False)); langs.append("en")
        elif c == "pii_slur":
            texts.append(_pii_text(rng, True)); langs.append("en")
        else:
            texts.append(_clean_text(rng)); langs.append("en")
        if c == "null_ts":
            texts[-1] = _clean_text(rng)
            langs[-1] = "en"
    df["text"] = texts
    df["lang"] = langs
    null_ts_mask = cat == "null_ts"
    df.loc[null_ts_mask, "warc_ts"] = pd.NaT

    # wrong declared lang for 2%
    wrong = rng.permutation(n)[: int(0.02 * n)]
    df.loc[wrong, "lang"] = "zz"
    # 1% unknown extra props field
    unk = rng.permutation(n)[: max(1, int(0.01 * n))]
    df.loc[unk, "props_json"] = '{"k": 1, "zzz_unknown": 2}'

    # html wrapper (deterministic; None where text is None)
    df["html"] = [
        (b"<html><body>" + t.encode("utf-8") + b"</body></html>") if isinstance(t, str) else None
        for t in df["text"]
    ]

    # 5% duplicates of (url, warc_ts): half exact, half conflicting payload
    n_dup = int(0.05 * n)
    dup_src = rng.permutation(n)[:n_dup]
    dup_rows = df.iloc[dup_src].copy()
    half = n_dup // 2
    conflict_idx = dup_rows.index[:half]
    for j in conflict_idx:
        alt = _clean_text(rng, 4)
        dup_rows.loc[j, "text"] = alt
        dup_rows.loc[j, "html"] = b"<html><body>" + alt.encode("utf-8") + b"</body></html>"
    df = pd.concat([df, dup_rows], ignore_index=True)

    return df[["url", "warc_ts", "html", "text", "lang", "props_json"]]


def gen_iot(n: int = 500, n_entities: int = 20, seed: int = 7) -> pd.DataFrame:
    """Mirror of the reference's sensor-packet frame (SURVEY.md §1.1) for
    exact six-metric parity tests (quirks Q1-Q9)."""
    rng = np.random.RandomState(seed)
    rows = []
    base = dt.datetime(2022, 1, 1, 10, 0, 0)
    for i in range(n):
        e = int(rng.randint(n_entities))
        # regular 30s cadence + occasional gaps/outliers
        k = i // n_entities
        jitter = int(rng.randint(0, 4))
        gap = 1800 if rng.rand() < 0.02 else 0
        ts = base + dt.timedelta(seconds=e * 7 + k * 30 + jitter + gap)
        payload_str = None if rng.rand() < 0.1 else f"s{int(rng.randint(100))}"
        payload_num = None if rng.rand() < 0.05 else float(np.round(rng.rand() * 50, 2))
        extra = f"x{i}" if rng.rand() < 0.03 else None
        rows.append([f"ent{e:02d}", ts.strftime("%Y-%m-%dT%H:%M:%S+05:30"),
                     payload_str, payload_num, extra])
    df = pd.DataFrame(rows, columns=[
        "entity_id", "observationDateTime", "payload_str", "payload_num", "extra_attr",
    ])
    # inject exact duplicates (5%)
    dup = df.iloc[rng.permutation(n)[: int(0.05 * n)]]
    return pd.concat([df, dup], ignore_index=True)
