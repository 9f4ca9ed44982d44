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

# Unicode script ranges for the deterministic language identifier.
SCRIPT_RANGES: dict[str, tuple[tuple[int, int], ...]] = {
    "xx_cyr": ((0x0400, 0x04FF),),
    "xx_cjk": ((0x4E00, 0x9FFF), (0x3040, 0x30FF)),
    "xx_deva": ((0x0900, 0x097F),),
}
_LATIN = ((0x41, 0x5A), (0x61, 0x7A))

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
# language identification (deterministic, script-range + stopword evidence)
# ---------------------------------------------------------------------------


def _build_script_bounds():
    """Flatten _LATIN + SCRIPT_RANGES into one sorted boundary array so a
    single ``searchsorted`` + ``bincount`` classifies every codepoint —
    2 numpy ops per doc instead of ~14 per-range mask passes (the ranges
    are disjoint, so slot counts equal the per-range mask counts exactly)."""
    import numpy as np

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
    import numpy as np

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


def lang_id(
    text: str, tokens: list[str] | None = None, ids=None
) -> tuple[str, float]:
    """Return (lang, confidence) — a fastText-API-shaped stand-in.

    ``tokens``: pre-tokenized words (identical to ``tokenize(text)``) to
    avoid re-splitting when the caller already has them. ``ids``: the
    ``word_ids(tokens)`` array, if the caller (the fused enrich kernel)
    already built it for perplexity — saves the lowercase+lookup pass.

    fastText itself is unavailable offline (SURVEY.md §7.5); the loader
    seam in ``langid.py`` allows swapping real model weights in. The
    stand-in is fully deterministic: Unicode-script voting for non-Latin
    scripts, stopword-hit-rate evidence for English.
    """
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
        if ids is None:
            ws = tokens if tokens is not None else tokenize(text)
            ids = word_ids(ws)
        n = len(ids)
        sf = int((ids < N_STOPWORDS).sum()) / n if n else 0.0
        iv = int((ids != VOCAB_UNK).sum()) / n if n else 0.0
        conf = min(1.0, 0.6 * iv + 1.5 * sf + 0.05)
        if conf >= 0.20:
            return ("en", round(conf, 6))
        return ("unk", round(conf, 6))
    return ("unk", round(latin / letters, 6))


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

# scrub order is frozen: email -> ip -> phone -> slur. Email before phone so
# digits inside addresses are consumed first; IP before phone so dotted quads
# are not half-eaten as phone fragments.
_SCRUB_ORDER = (
    ("pii_email", EMAIL_RE, EMAIL_TOKEN),
    ("pii_ip", IPV4_RE, IP_TOKEN),
    ("pii_phone", PHONE_RE, PHONE_TOKEN),
    ("toxicity_slur", SLUR_RE, SLUR_TOKEN),
)


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
