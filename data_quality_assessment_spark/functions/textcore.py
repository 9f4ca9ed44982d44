"""Pure-Python text semantics — the single source of truth.

Every statistic here has a native-Column twin in ``textstats.py``; the two
are pinned equal by tests. The pandas UDFs (langid / perplexity / scrub)
and the test oracle both import THIS module, so "byte-identical scrubbed
text" and score parity hold by construction (same ``re`` engine, same
constants, same arithmetic).

Reference lineage: these rules reimagine the per-row validation of
``/root/reference/scripts/metricModules.py:104-169`` (JSON-schema format /
unknown-attribute / completeness checks) as web-text quality heuristics —
see SURVEY.md §2.7's mapping table.

Tokenization contract (pinned, used identically in Spark SQL and Python):
  * whitespace = the explicit class ``[ \\t\\n\\r\\f\\x0B]`` — NOT ``\\s``,
    because Java's ``\\s`` is ASCII-only while Python's is Unicode-aware.
  * words = non-empty substrings between whitespace runs.
  * lines = non-empty-after-strip substrings between ``\\n``.
"""

from __future__ import annotations

import re

# ---------------------------------------------------------------------------
# pinned lexical constants
# ---------------------------------------------------------------------------

WHITESPACE_CLASS = r"[ \t\n\r\f\x0B]"
_WS_RE = re.compile(WHITESPACE_CLASS + "+")

# symbol characters counted for the symbol/word ratio rule (C4/Gopher-style
# "hash + ellipsis + markup junk" signal, generalized)
SYMBOL_CLASS = r"[#@^~`|<>{}\[\]$%&*+=_\\]"
_SYMBOL_RE = re.compile(SYMBOL_CLASS)

# small fixed English stopword list (rule signal, not linguistics)
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "it", "that", "this", "for", "on", "with", "as", "at", "by", "be",
    "from", "has", "have", "not", "but", "they", "we", "you", "his", "her",
)
STOPWORD_SET = frozenset(STOPWORDS)

# fixed English content lexicon — shared with the bigram LM vocabulary
# (lm.py builds VOCAB = STOPWORDS + CONTENT_WORDS) and used as langid
# evidence: the fraction of in-lexicon words is the 'looks like English'
# signal, the way real langid models use char-ngram likelihood.
CONTENT_WORDS: tuple[str, ...] = tuple(
    f"{a}{b}"
    for a in ("data", "web", "crawl", "page", "text", "link", "word", "site",
              "news", "time", "work", "line", "file", "code", "open", "read")
    for b in ("", "s", "er", "ing")
) + (
    "quality", "report", "system", "market", "public", "school", "water",
    "energy", "health", "music", "travel", "garden", "planet", "silver",
    "window", "bridge", "forest", "river", "mountain", "valley", "harbor",
    "engine", "signal", "filter", "vector", "matrix", "stream", "batch",
    # OLAP-ish web vocabulary (covers the driver's synthetic documents table)
    "agg", "big", "column", "customer", "dup", "fast", "group", "hash",
    "join", "key", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "table", "value",
)
ENGLISH_LEXICON = frozenset(STOPWORDS) | frozenset(CONTENT_WORDS)

# shared word-id space: VOCAB = stopwords first (deduped, order-preserving),
# then content words — the bigram LM (lm.py) and the langid evidence both
# index into it, so one lowercase+lookup pass per document serves langid,
# stopword_frac, AND perplexity (id < N_STOPWORDS <=> stopword;
# id != VOCAB_UNK <=> in the English lexicon).
VOCAB: tuple[str, ...] = tuple(dict.fromkeys(STOPWORDS + CONTENT_WORDS))
VOCAB_INDEX: dict[str, int] = {w: i for i, w in enumerate(VOCAB)}
VOCAB_UNK: int = len(VOCAB)
N_STOPWORDS: int = len(STOPWORDS)


def word_ids(tokens: list[str]):
    """Lowercased VOCAB ids for a token list (VOCAB_UNK for OOV) as an
    int64 numpy array — the shared substrate for langid + stopword_frac +
    perplexity."""
    import numpy as np

    get = VOCAB_INDEX.get
    return np.fromiter(
        (get(w.lower(), VOCAB_UNK) for w in tokens), np.int64, len(tokens)
    )


# ---------------------------------------------------------------------------
# tokenization + native-twinned statistics
# ---------------------------------------------------------------------------


def tokenize(text: str) -> list[str]:
    """Split on the pinned whitespace class, drop empties."""
    if not text:
        return []
    return [w for w in _WS_RE.split(text) if w]


def n_words(text: str) -> int:
    return len(tokenize(text))


def mean_word_len(text: str) -> float:
    ws = tokenize(text)
    if not ws:
        return 0.0
    return sum(len(w) for w in ws) / len(ws)


def symbol_word_ratio(text: str) -> float:
    ws = tokenize(text)
    if not ws:
        return 0.0
    return len(_SYMBOL_RE.findall(text)) / len(ws)


def stopword_frac(text: str) -> float:
    ws = tokenize(text)
    if not ws:
        return 0.0
    hits = sum(1 for w in ws if w.lower() in STOPWORD_SET)
    return hits / len(ws)


def lines_of(text: str) -> list[str]:
    if not text:
        return []
    return [ln.strip() for ln in text.split("\n") if ln.strip()]


def dup_line_frac(text: str) -> float:
    lns = lines_of(text)
    if not lns:
        return 0.0
    return 1.0 - len(set(lns)) / len(lns)


def top_bigram_share(text: str, tokens: list[str] | None = None) -> float:
    """Share of the most frequent word bigram among all bigrams.

    Computed in the Arrow UDF pass (not native Columns): a native
    ``transform``+``filter`` equivalent is O(n^2) per row, which does not
    survive a 100x scale-up; here it is one O(n) dict pass per document.
    """
    ws = tokens if tokens is not None else tokenize(text)
    if len(ws) < 2:
        return 0.0
    counts: dict[tuple[str, str], int] = {}
    best = 0
    prev = ws[0]
    for w in ws[1:]:
        k = (prev, w)
        c = counts.get(k, 0) + 1
        counts[k] = c
        if c > best:
            best = c
        prev = w
    return best / (len(ws) - 1)


# ---------------------------------------------------------------------------
# PII / toxicity scrubber (compiled once at import; shared with the oracle)
# ---------------------------------------------------------------------------

EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
# PHONE/IP compiled with re.ASCII so \d means [0-9] exactly (without it,
# Python \d matches Unicode digits — Arabic-Indic numerals scrubbed as
# "phone numbers" is wrong, and the rule stops being RE2/DuckDB-
# expressible). The *_CORE strings are shared with the generated DuckDB
# scrub oracle, which rewrites the lookarounds as boundary-consuming
# groups (RE2 has no lookarounds; see __spark_entry__ scrub oracle).
PHONE_CORE = (
    r"(?:"
    r"\+\d{1,3}[-. ]?\d{6,12}"               # +91-9876543210, +1 5551234567
    r"|\(\d{3}\)[-. ]?\d{3}[-. ]?\d{4}"      # (555) 123-4567
    r"|\d{3,5}[-. ]\d{3,8}(?:[-. ]\d{3,6})?"  # 044-2345678, 555-123-4567
    r")"
)
PHONE_RE = re.compile(
    r"(?<![\dA-Za-z])" + PHONE_CORE + r"(?![\dA-Za-z])", re.ASCII
)
IP_CORE = r"(?:\d{1,3}\.){3}\d{1,3}"
IPV4_RE = re.compile(r"(?<![\d.])" + IP_CORE + r"(?![\d.])", re.ASCII)
# synthetic placeholder lexicon (FIXTURES.md F1e) — a real deployment drops
# in a real lexicon via config; word-boundary, case-insensitive.
# re.ASCII pins case folding to A-Z<->a-z: without it, Unicode variants such
# as 'QUANDRİX' (U+0130) or 'quandrıx' (U+0131) match the regex but not the
# lowercase-substring fast-path gate in scrub_text, so the gate would silently
# change behavior. ASCII folding makes the gate an exact necessary condition
# and keeps the rule RE2-expressible for the DuckDB oracle.
SLUR_LEXICON: tuple[str, ...] = ("grokflarp", "zibbleworst", "quandrix", "blortfang")
SLUR_RE = re.compile(
    r"\b(?:" + "|".join(SLUR_LEXICON) + r")\b", re.IGNORECASE | re.ASCII
)

EMAIL_TOKEN = "<EMAIL>"
PHONE_TOKEN = "<PHONE>"
IP_TOKEN = "<IP>"
SLUR_TOKEN = "<SLUR>"

_DIGIT_RE = re.compile(r"\d")


def scrub_text(text: str) -> tuple[str, dict[str, int]]:
    """Replace PII/toxicity matches; return (scrubbed, per-rule counts).

    Idempotent: replacement tokens contain no digits/@/lexicon words, so a
    second pass matches nothing (property-tested).

    Each pattern is gated by a NECESSARY cheap precondition (EMAIL needs a
    literal '@', IP/PHONE need a digit, a slur needs its lowercase
    substring) evaluated against the current text, so the expensive
    backtracking patterns only run on documents that can match — the
    result is identical to running every subn unconditionally (measured
    ~3x on clean web text, which is the common case).
    """
    # scrub order is frozen: email -> ip -> phone -> slur. Email before
    # phone so digits inside addresses are consumed first; IP before phone
    # so dotted quads are not half-eaten as phone fragments.
    counts: dict[str, int] = {}
    out = text
    # email
    if "@" in out:
        out, n = EMAIL_RE.subn(EMAIL_TOKEN, out)
    else:
        n = 0
    counts["pii_email"] = n
    # ip then phone (both need a digit; order frozen: ip before phone)
    if _DIGIT_RE.search(out):
        out, n = IPV4_RE.subn(IP_TOKEN, out)
        counts["pii_ip"] = n
        out, n = PHONE_RE.subn(PHONE_TOKEN, out)
        counts["pii_phone"] = n
    else:
        counts["pii_ip"] = 0
        counts["pii_phone"] = 0
    # slur (word-bounded, case-insensitive)
    low = out.lower()
    if any(s in low for s in SLUR_LEXICON):
        out, n = SLUR_RE.subn(SLUR_TOKEN, out)
    else:
        n = 0
    counts["toxicity_slur"] = n
    return out, counts


# ---------------------------------------------------------------------------
# html -> text extraction (byte-stable inverse of the fixture wrapper)
# ---------------------------------------------------------------------------

_TAG_RE = re.compile(r"<[^>]*>")


def extract_text(html_bytes: bytes) -> str:
    """Strip tags from the deterministic fixture wrapper.

    The per-row invariant (BASELINE.json input_hint) is byte-identical
    extracted text per url; fixtures wrap text as
    ``b"<html><body>" + text + b"</body></html>"`` so tag-stripping is an
    exact inverse. Real-world extraction (trafilatura etc.) would slot in
    behind this seam.
    """
    if html_bytes is None:
        return ""
    return _TAG_RE.sub("", html_bytes.decode("utf-8", errors="replace"))
