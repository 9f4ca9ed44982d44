"""Fused-kernel equivalence (no Spark): ``kernel.enrich_batch`` must
produce EXACTLY the per-doc function composition
(``tests.oracle.oracle_enrich``) for arbitrary input and every batch
size — the fused kernel shares tokenization/ids across stages and
vectorizes them over the batch, and this pins that the sharing changes
nothing (hypothesis over unicode text, PII-bearing strings, and the
fixture corpus)."""

from __future__ import annotations

import pytest

from data_quality_assessment_spark.functions import kernel, textcore
from data_quality_assessment_spark.functions.lm import get_model
from tests.oracle import oracle_enrich

try:
    from hypothesis import given, settings, strategies as st
    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False


def _assert_match(html, text):
    cols = kernel.enrich_batch([html], [text])
    want = oracle_enrich(html, text)
    for k, v in want.items():
        assert cols[k][0] == v, (k, text)


CASES = [
    (None, None),
    (None, ""),
    (None, "   \t\n "),
    (b"<html><body>the data page is open</body></html>", None),
    (None, "a@b.co or 1.2.3.4 and 044-2345678 grokflarp"),
    (None, "Привет мир " * 10),
    (None, "数据质量很好" * 5),
    (None, "mixed Привет the data 数据 line\nline\nline"),
    (None, "x" * 5000),
]


@pytest.mark.parametrize("html,text", CASES)
def test_kernel_matches_composition(html, text):
    _assert_match(html, text)


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis unavailable")
@settings(max_examples=300, deadline=None)
@given(st.text(max_size=400))
def test_kernel_matches_composition_hypothesis(text):
    _assert_match(None, text)


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis unavailable")
@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=300))
def test_kernel_html_path_hypothesis(blob):
    _assert_match(b"<html><body>" + blob + b"</body></html>", None)


def test_kernel_on_fixture_corpus():
    from data_quality_assessment_spark.sources.fixture_gen import gen_pages_fast

    pdf = gen_pages_fast(500, seed=99)
    cols = kernel.enrich_batch(list(pdf["html"]), list(pdf["text"]))
    for i in (0, 123, 499):
        want = oracle_enrich(pdf["html"][i], pdf["text"][i])
        for k, v in want.items():
            assert cols[k][i] == v, (i, k)


# ---------------------------------------------------------------------------
# whole batches: the vectorized kernel must be BIT-identical to the
# per-doc composition for arbitrary input
# ---------------------------------------------------------------------------


def _assert_cols_match(cols, htmls, texts, model=None, ft=None):
    """{column: list} from the kernel == ``oracle_enrich`` row by row."""
    ref = [oracle_enrich(h, t, model, ft) for h, t in zip(htmls, texts)]
    for k in kernel.ENRICH_COLS:
        got = list(cols[k])
        assert len(got) == len(ref)
        for i, (want, y) in enumerate(zip(ref, got)):
            x = want[k]
            ok = (x == y) or (x is None and y is None)
            assert ok, (k, i, x, y, repr(texts[i])[:120])


def _assert_batch_parity(htmls, texts):
    """The per-doc reference == the entry (Arrow extraction included)
    for a batch of any size."""
    _assert_cols_match(kernel.enrich_batch(htmls, texts), htmls, texts)


EDGE_TEXTS = [
    "", " ", "\t\n", "the data page",
    "a@b.co or 1.2.3.4 and 044-2345678 grokflarp",
    "GROKFLARP groKflarp",          # Kelvin-sign exotic lowercase
    "Key the",                      # U+212A token lowering into vocab
    "Привет мир",
    "数据质量很好",
    "line\nline\nline\n  line \n",
    "a\x1cb line\nline",                 # \x1c: Python isspace, not WSpace
    "x\x1c\nx\x1c\n",                    # dup lines differing only via strip
    "the\x0bdata",                       # \x0b is pinned whitespace
    "word " * 300,
    "#@{}[]\\$%",
    "İstanbul STRASSE ſtraße",
    "9" * 50,
    "\x1d\x1e\x1f",
    "mixed Привет the data 数据",
    None,
    # script-range boundary codepoints (byte-level counter edges):
    # latin / cyrillic / devanagari / CJK / kana just inside + outside
    "".join(chr(c) for c in (
        0x40, 0x41, 0x5A, 0x5B, 0x60, 0x61, 0x7A, 0x7B,
        0x3FF, 0x400, 0x4FF, 0x500,
        0x8FF, 0x900, 0x97F, 0x980,
        0x303F, 0x3040, 0x30FF, 0x3100,
        0x4DFF, 0x4E00, 0x9FFF, 0xA000,
        0x1F600, 0x10FFFF,
    )),
    "一Ѐ mixed ऀ぀ edge",
]


def test_vector_batch_parity_edges():
    texts = EDGE_TEXTS * 2
    _assert_batch_parity([None] * len(texts), texts)
    # every batch size takes the vector path: 1..20-row windows too
    for w in range(1, 21):
        for lo in range(0, len(EDGE_TEXTS), w):
            win = EDGE_TEXTS[lo:lo + w]
            _assert_batch_parity([None] * len(win), win)


def test_vector_batch_parity_fixture():
    from data_quality_assessment_spark.sources.fixture_gen import gen_pages_fast

    pdf = gen_pages_fast(800, seed=31)
    _assert_batch_parity(list(pdf["html"]), list(pdf["text"]))


def test_vector_batch_parity_html_rows():
    blobs = [
        b"<html><body>the data</body></html>",
        b"<html><body>\xff\xfe broken</body></html>",  # invalid utf-8
        b"",
        None,
    ] * 8
    texts = ["fallback text"] * len(blobs)
    _assert_batch_parity(blobs, texts)


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis unavailable")
@settings(max_examples=60, deadline=None)
@given(st.lists(st.text(max_size=120), min_size=1, max_size=40))
def test_vector_batch_parity_hypothesis(texts):
    _assert_batch_parity([None] * len(texts), texts)


def test_empty_batch():
    """0-row batches (empty partitions) return 0-length columns of the
    struct types the UDF declares."""
    import pyarrow as pa

    want = kernel._cols_to_struct({k: [] for k in kernel.ENRICH_COLS})
    out = kernel.enrich_batch_arrow(
        pa.array([], type=pa.binary()), pa.array([], type=pa.string())
    )
    assert len(out) == 0 and out.type == want.type
    cols = kernel.enrich_batch([], [])
    assert list(cols) == list(kernel.ENRICH_COLS)
    assert all(v == [] for v in cols.values())
    assert kernel.ppl_batch([]) == []


def test_script_counts_bytes_every_codepoint():
    """The byte-level script counter hardcodes the UTF-8 byte patterns
    of ``textcore._LATIN`` / ``SCRIPT_RANGES`` (and the vector lang
    finishing loop their key names): over one row per non-surrogate
    codepoint, each count must equal range membership, so a range edit
    the counter does not follow fails here."""
    import numpy as np
    import pyarrow as pa

    names = ("xx_cyr", "xx_cjk", "xx_deva")
    assert tuple(textcore.SCRIPT_RANGES) == names
    cps = np.concatenate((np.arange(0xD800), np.arange(0xE000, 0x110000)))
    arr = pa.array([chr(c) for c in cps.tolist()], type=pa.string())
    got = kernel._script_counts_bytes(arr)

    def member(ranges):
        m = np.zeros(len(cps), dtype=bool)
        for lo, hi in ranges:
            m |= (cps >= lo) & (cps <= hi)
        return m.astype(np.int64)

    want = [member(textcore._LATIN)]
    want += [member(textcore.SCRIPT_RANGES[k]) for k in names]
    for name, g, w in zip(("latin",) + names, got, want):
        bad = np.flatnonzero(g != w)
        assert not len(bad), (name, [hex(c) for c in cps[bad[:8]]])


def test_ppl_batch_matches_perplexity():
    from data_quality_assessment_spark.functions.kernel import ppl_batch

    m = get_model()
    for texts in (EDGE_TEXTS * 2, EDGE_TEXTS[3:4], EDGE_TEXTS[:5]):
        got = ppl_batch(texts, m)
        for t, g in zip(texts, got):
            txt = t if isinstance(t, str) else ""
            assert g == m.perplexity(txt, textcore.tokenize(txt)), repr(t)


def test_arrow_batch_parity():
    """r6: the Arrow-native entry (enrich_batch_arrow) must match the
    per-doc reference bit-for-bit, including the vectorized html
    extraction and its invalid-UTF-8 whole-batch fallback."""
    import pyarrow as pa

    from data_quality_assessment_spark.sources.fixture_gen import gen_pages_fast

    pdf = gen_pages_fast(400, seed=21)
    htmls = [bytes(b) if b is not None else None for b in pdf["html"]]
    texts = list(pdf["text"])
    # splice in edge rows: invalid utf-8 html, empty html, html None+text
    htmls += [b"<html><body>\xff\xfebroken</body></html>", b"", None, None]
    texts += [None, None, "plain text row", None]
    st = kernel.enrich_batch_arrow(
        pa.array(htmls, type=pa.binary()), pa.array(texts, type=pa.string())
    )
    cols = {k: st.field(k).to_pylist() for k in kernel.ENRICH_COLS}
    _assert_cols_match(cols, htmls, texts)


# ---------------------------------------------------------------------------
# swapped-in real models: the kernel's per-doc hooks at batch scale
# ---------------------------------------------------------------------------


def _mixed_corpus():
    """Fixture pages plus the extraction edges: invalid-UTF-8 html, empty
    html, null html and text, and a Cyrillic row with an IPv4 address."""
    from data_quality_assessment_spark.sources.fixture_gen import gen_pages_fast

    pdf = gen_pages_fast(600, seed=21)
    htmls = [bytes(b) if b is not None else None for b in pdf["html"]]
    texts = list(pdf["text"])
    htmls += [b"<html><body>\xff\xfe the cat</body></html>", b"", None,
              None, None, None]
    texts += [None, None, None, "the cat sat on the mat", "",
              "Привет мир the cat 10.0.0.1 sat"]
    return htmls, texts


def _write_langid_bin(path):
    """A small supervised fastText .bin over the kernel's vocabulary, so
    docs get model-specific labels and confidences."""
    import numpy as np

    from tests.test_model_loaders import _write_ft_bin

    words = list(textcore.VOCAB[:40]) + ["</s>"]
    labels = ["__label__en", "__label__fr", "__label__de"]
    rng = np.random.RandomState(7)
    im = rng.randn(len(words), 4)
    om = rng.randn(len(labels), 4)
    _write_ft_bin(path, words, labels, im, om, dim=4)


@pytest.mark.parametrize("with_ft", [False, True])
def test_model_hooks_at_batch_scale(tmp_path, monkeypatch, with_ft):
    """With the ARPA LM (and optionally a fastText langid) swapped in,
    ``enrich_batch_arrow`` equals the per-doc composition over the mixed
    corpus at 1-, 7- and 4096-row batches; ``ppl_batch`` equals the ARPA
    model's per-doc perplexity."""
    import pyarrow as pa

    from data_quality_assessment_spark.functions import model_loaders as ml
    from tests.test_model_loaders import ARPA

    monkeypatch.setenv("DQ_SPARK_LM_ARPA", ARPA)
    monkeypatch.setattr(ml, "_FT_SINGLETON", None)
    monkeypatch.setattr(ml, "_FT_SINGLETON_PATH", None)
    if with_ft:
        p = tmp_path / "lid.bin"
        _write_langid_bin(p)
        monkeypatch.setenv("DQ_SPARK_FASTTEXT", str(p))
    else:
        monkeypatch.delenv("DQ_SPARK_FASTTEXT", raising=False)
    model, ft = get_model(), ml.get_fasttext()
    assert isinstance(model, ml.ArpaLM)
    assert (ft is not None) == with_ft

    htmls, texts = _mixed_corpus()
    for rows in (1, 7, 4096):
        cols = {k: [] for k in kernel.ENRICH_COLS}
        for lo in range(0, len(htmls), rows):
            st = kernel.enrich_batch_arrow(
                pa.array(htmls[lo:lo + rows], type=pa.binary()),
                pa.array(texts[lo:lo + rows], type=pa.string()),
            )
            for k in kernel.ENRICH_COLS:
                cols[k] += st.field(k).to_pylist()
        _assert_cols_match(cols, htmls, texts, model, ft)
    if with_ft:  # the model's labels, not the heuristic's, reach the output
        assert {"fr", "de"} <= set(cols["lang_pred"])

    ppl_texts = texts + EDGE_TEXTS
    got = kernel.ppl_batch(ppl_texts)
    for t, g in zip(ppl_texts, got):
        txt = t if isinstance(t, str) else ""
        assert g == model.perplexity(txt, textcore.tokenize(txt)), repr(t)
