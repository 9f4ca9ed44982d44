"""Native-Column text statistics — the JVM/codegen twins of ``textcore``.

Each function returns a ``pyspark.sql.Column`` computing the same value
as its pure-Python twin (pinned by ``tests/test_textstats_parity.py``),
with one known exception: ``dup_line_frac`` strips each line of the
ASCII whitespace class only, while ``textcore.dup_line_frac`` (and the
enrich kernel) use ``str.strip``, which also strips NBSP, the Unicode
spaces and U+001C..U+001F. A line holding only such characters is kept
here and dropped there: ``'a\xa0\na\nb'`` gives 0.0 here and 1/3 in
``textcore``. The JVM meaning is the one ``ORACLE_DOC_TEXTSTATS`` pins;
the flagship output uses the Python one.

Implementation note (measured, 60k docs): higher-order array functions
(``transform``/``filter``/``aggregate``) are CodegenFallback — interpreted,
with the argument subtree re-evaluated on every reference — so a
words-array formulation of these stats cost ~8x the whole pipeline's
Python stage. The counting stats are therefore pure regexp string ops
(RegExpCount/RegExpReplace ARE whole-stage-codegen); arrays remain only
where set semantics require them (``dup_line_frac``) and for operators
that genuinely consume arrays (shingles in operators/dedup.py).

Reference lineage: these are the scale-path rewrites of the reference's
per-row validation loop (``/root/reference/scripts/metricModules.py:104-149``)
per SURVEY.md §2.7.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .textcore import STOPWORDS, SYMBOL_CLASS, WHITESPACE_CLASS

_WS_SPLIT = WHITESPACE_CLASS + "+"
# one non-whitespace run == one word (same tokenization as textcore)
_NON_WS_RUN = WHITESPACE_CLASS.replace("[", "[^", 1) + "+"
# strip = remove pinned-whitespace runs at either end (same class as Python)
_STRIP_HEAD = "^" + WHITESPACE_CLASS + "+"
_STRIP_TAIL = WHITESPACE_CLASS + "+$"
# a stopword as a standalone token: ws-or-start before, ws-or-end after.
# Java regex backtracks across the alternation, so shorter stopwords that
# are prefixes of longer ones (a/an/and) still match correctly.
_STOP_TOKEN_RE = (
    f"(?:^|(?<={WHITESPACE_CLASS}))"
    f"(?:{'|'.join(STOPWORDS)})"
    f"(?:$|(?={WHITESPACE_CLASS}))"
)


def _txt(text: Column) -> Column:
    return F.coalesce(text, F.lit(""))


def words(text: Column) -> Column:
    """Array of non-empty whitespace-separated tokens ([] for null text).

    Array form — for operators that need the actual tokens (shingling).
    The counting stats below deliberately avoid it (see module docstring).
    """
    raw = F.split(_txt(text), _WS_SPLIT)
    return F.filter(raw, lambda w: w != F.lit(""))


def n_words(text: Column) -> Column:
    return F.regexp_count(_txt(text), F.lit(_NON_WS_RUN)).cast("long")


def mean_word_len(text: Column) -> Column:
    """sum(len(word)) / n_words == count of non-ws chars / n_words."""
    nw = n_words(text)
    total = F.length(F.regexp_replace(_txt(text), _WS_SPLIT, ""))
    return F.when(nw > 0, total / nw).otherwise(F.lit(0.0))


def symbol_word_ratio(text: Column) -> Column:
    nw = n_words(text)
    syms = F.regexp_count(_txt(text), F.lit(SYMBOL_CLASS))
    return F.when(nw > 0, syms / nw).otherwise(F.lit(0.0))


def stopword_frac(text: Column) -> Column:
    nw = n_words(text)
    hits = F.regexp_count(F.lower(_txt(text)), F.lit(_STOP_TOKEN_RE))
    return F.when(nw > 0, hits / nw).otherwise(F.lit(0.0))


def lines(text: Column) -> Column:
    raw = F.split(_txt(text), F.lit("\n"), -1)
    stripped = F.transform(
        raw,
        lambda ln: F.regexp_replace(
            F.regexp_replace(ln, _STRIP_HEAD, ""), _STRIP_TAIL, ""
        ),
    )
    return F.filter(stripped, lambda ln: ln != F.lit(""))


def paragraphs(text: Column) -> Column:
    """Stripped non-empty paragraphs: blocks separated by blank lines
    (split on 2+ consecutive newlines), head/tail whitespace stripped
    with the same `\\s` class as :func:`lines`."""
    raw = F.split(_txt(text), r"\n{2,}", -1)
    stripped = F.transform(
        raw,
        lambda p: F.regexp_replace(
            F.regexp_replace(p, _STRIP_HEAD, ""), _STRIP_TAIL, ""
        ),
    )
    return F.filter(stripped, lambda p: p != F.lit(""))


def dup_line_frac_of(lines_col: Column) -> Column:
    """1 - distinct/total over a *materialized* lines array column —
    callers materialize ``lines(text)`` once so the three references here
    read a computed array instead of re-splitting (HOFs re-evaluate)."""
    n = F.size(lines_col)
    return F.when(
        n > 0, F.lit(1.0) - F.size(F.array_distinct(lines_col)) / n
    ).otherwise(F.lit(0.0))


def dup_line_frac(text: Column) -> Column:
    return dup_line_frac_of(lines(text))


# BPE-ish token classes: letter runs, digit runs, single non-alnum marks —
# the standard pre-tokenization shape (ASCII-safe across regex engines)
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f\x0B]"


def n_tokens(text: Column) -> Column:
    """Token count under the BPE-ish pre-tokenizer (text analysis op)."""
    return F.regexp_count(_txt(text), F.lit(TOKEN_RE)).cast("long")


def is_blank(text: Column) -> Column:
    """Null, empty, or whitespace-only."""
    return text.isNull() | (
        F.regexp_replace(text, WHITESPACE_CLASS + "+", "") == F.lit("")
    )


def host_of(url: Column) -> Column:
    """Extract ``host`` from ``scheme://host/path`` (the per-entity key —
    reference analog: trip_id/license_plate, SURVEY.md §1.3)."""
    return F.substring_index(F.substring_index(url, "://", -1), "/", 1)


TRACKING_PARAM_RE = "^(utm_[^=]*|fbclid|gclid|msclkid|ref_src)="


def normalize_url(url: Column) -> Column:
    """Canonical URL for url-keyed dedup at crawl scale — pure codegen
    (no UDF): duplicate pages reached via trivially-different URLs
    (case-variant scheme/host, fragments, default ports, tracking
    params, shuffled query order) collapse to one key before the dedup
    shuffle, which is where exact dedup actually wins on web data.

    Steps (each mirrored exactly by the DuckDB oracle):
      1. strip the fragment (``#...``);
      2. lowercase scheme and host (path/query stay case-significant);
      3. drop default ports (``:80`` for http, ``:443`` for https);
      4. drop a bare trailing ``/`` path;
      5. drop tracking params (``TRACKING_PARAM_RE``), sort the rest
         byte-wise, re-join with ``&`` (empty query -> no ``?``).
    """
    defrag = F.substring_index(url, "#", 1)
    base = F.substring_index(defrag, "?", 1)
    # query = everything after the FIRST '?': a literal '?' may appear
    # inside parameter values (RFC 3986 allows it), so slicing from the
    # last '?' would silently drop middle segments and collapse distinct
    # URLs onto one dedup key
    query = F.when(
        defrag.contains("?"),
        F.substring(defrag, F.length(base) + 2, F.length(defrag)),
    ).otherwise(F.lit(""))
    scheme = F.lower(F.substring_index(base, "://", 1))
    rest = F.substring_index(base, "://", -1)
    hostport = F.lower(F.substring_index(rest, "/", 1))
    path = F.substring(
        rest, F.length(F.substring_index(rest, "/", 1)) + 1,
        F.length(rest),
    )
    host = F.when(
        (scheme == "http") & hostport.endswith(":80"),
        F.substring(hostport, 1, F.length(hostport) - 3),
    ).when(
        (scheme == "https") & hostport.endswith(":443"),
        F.substring(hostport, 1, F.length(hostport) - 4),
    ).otherwise(hostport)
    npath = F.when(path == "/", F.lit("")).otherwise(path)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    nquery = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme, F.lit("://"), host, npath,
        F.when(nquery != "", F.concat(F.lit("?"), nquery)).otherwise(F.lit("")),
    )
