"""Deterministic synthetic `pages` corpus at bench scale (FIXTURES.md F1).

Everything is seeded; no wall-clock, no external data. Clean English text is
sampled from the SAME frozen Markov chain the perplexity model was trained
on (``functions.lm``), so in-domain text scores low ppl and gibberish high.

Pathology quotas (FIXTURES.md F1): 5% duplicate (url, warc_ts), 3% null
text, 2% null warc_ts, 8% non-English, 5% gibberish, 6% repetition-heavy,
10% PII-bearing, 2% wrong declared lang. The per-row fixtures the tests
pin (``gen_pages``, F1, and the IoT frame ``gen_iot``, F3) live in
``tests/fixture_gen.py`` and share this module's constants.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from ..functions import lm
from ..functions.textcore import SLUR_LEXICON

N_HOSTS = 200
ZIPF_S = 1.3
BASE_TS = dt.datetime(2022, 1, 1, 0, 0, 0)

_CYR = [chr(c) for c in range(0x0430, 0x0450)]
_CJK = [chr(c) for c in range(0x4E00, 0x4E80)]
_DEVA = [chr(c) for c in range(0x0905, 0x0940)]
_LATIN = list("abcdefghijklmnopqrstuvwxyz")

PII_SNIPPETS = [
    "contact me at alice.smith@example.com for details",
    "call +91-9876543210 tomorrow",
    "our office line is (555) 123-4567",
    "server at 192.168.10.250 is down",
    "email bob_jones99@mail.example.org or 10.0.0.1",
    "fax 044-2345678 and write to x@y.co",
]


# ---------------------------------------------------------------------------
# fast bulk corpus for benchmarks (same quotas as tests/fixture_gen.py's
# gen_pages, vectorized text sampling via lm.sample_lines_batch; own
# deterministic layout)
# ---------------------------------------------------------------------------


def gen_pages_fast(n: int = 200_000, seed: int = 42) -> pd.DataFrame:
    """Bench-scale pages corpus: identical schema and pathology quotas to
    ``tests/fixture_gen.py:gen_pages`` (FIXTURES.md F1) at ~1000x the
    generation speed. The per-row rng layout differs, so fixture-pinned
    tests use ``gen_pages``; benchmarks (bench.py, perfbench/) use
    this."""
    rng = np.random.RandomState(seed)
    w = 1.0 / np.arange(1, N_HOSTS + 1) ** ZIPF_S
    w /= w.sum()
    host_idx = rng.choice(N_HOSTS, n, p=w)
    interval = rng.randint(10, 3600, N_HOSTS)
    seen = pd.Series(host_idx).groupby(host_idx).cumcount().to_numpy()
    offs = seen * interval[host_idx] + rng.randint(0, 3, n)
    ts = pd.to_datetime(BASE_TS) + pd.to_timedelta(host_idx + offs, unit="s")
    urls = np.array([f"https://host{h:03d}.example.com/p{i}"
                     for i, h in enumerate(host_idx)])

    order = rng.permutation(n)
    q = {
        "null_text": int(0.03 * n), "null_ts": int(0.02 * n),
        "cyr": int(0.03 * n), "cjk": int(0.03 * n), "deva": int(0.02 * n),
        "gibberish": int(0.05 * n), "repetitive": int(0.06 * n),
        "pii": int(0.07 * n), "pii_slur": int(0.03 * n),
    }
    cat = np.array(["clean"] * n, dtype=object)
    pos = 0
    for name, cnt in q.items():
        cat[order[pos:pos + cnt]] = name
        pos += cnt

    # clean-ish docs (clean/repetitive/pii/null_ts): 8 Markov lines each
    texts = np.empty(n, dtype=object)
    langs = np.empty(n, dtype=object)
    cleanish = np.flatnonzero(
        np.isin(cat, ["clean", "repetitive", "pii", "pii_slur", "null_ts"])
    )
    n_lines = 8
    line_lens = rng.randint(8, 16, size=len(cleanish) * n_lines)
    lines = lm.sample_lines_batch(rng, line_lens)
    for j, i in enumerate(cleanish):
        texts[i] = "\n".join(lines[j * n_lines:(j + 1) * n_lines])
        langs[i] = "en"
    # overlay pathologies
    for i in np.flatnonzero(cat == "repetitive"):
        base_lines = texts[i].split("\n")
        texts[i] = "\n".join([base_lines[0]] * 10 + base_lines[1:3])
    pii_rows = np.flatnonzero(np.isin(cat, ["pii", "pii_slur"]))
    snip = rng.randint(0, len(PII_SNIPPETS), len(pii_rows))
    for k, i in enumerate(pii_rows):
        parts = texts[i].split("\n")
        parts.insert(int(k % len(parts)), PII_SNIPPETS[snip[k]])
        if cat[i] == "pii_slur":
            parts.insert(0, f"what a {SLUR_LEXICON[k % len(SLUR_LEXICON)]} move")
        texts[i] = "\n".join(parts)
    for name, alph in (("cyr", _CYR), ("cjk", _CJK), ("deva", _DEVA),
                       ("gibberish", _LATIN)):
        rows = np.flatnonzero(cat == name)
        for i in rows:
            k = int(rng.randint(30, 80))
            lens = rng.randint(2 if name != "gibberish" else 3,
                               8 if name != "gibberish" else 11, k)
            texts[i] = " ".join(
                "".join(rng.choice(alph, L)) for L in lens
            )
            langs[i] = "en" if name == "gibberish" else f"xx_{name}"
    for i in np.flatnonzero(cat == "null_text"):
        texts[i] = None
        langs[i] = None

    df = pd.DataFrame({
        "url": urls, "warc_ts": ts, "text": texts, "lang": langs,
        "props_json": '{"k": 1}',
    })
    df.loc[cat == "null_ts", "warc_ts"] = pd.NaT
    wrong = rng.permutation(n)[: int(0.02 * n)]
    df.loc[wrong, "lang"] = "zz"
    df["html"] = [
        (b"<html><body>" + t.encode("utf-8") + b"</body></html>")
        if isinstance(t, str) else None
        for t in df["text"]
    ]
    n_dup = int(0.05 * n)
    dup_rows = df.iloc[rng.permutation(n)[:n_dup]].copy()
    df = pd.concat([df, dup_rows], ignore_index=True)
    return df[["url", "warc_ts", "html", "text", "lang", "props_json"]]
