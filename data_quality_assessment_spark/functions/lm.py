"""Frozen word-bigram language model (KenLM-API-shaped stand-in).

KenLM is unavailable offline (SURVEY.md §7.5), so the perplexity stage uses
a deterministic bigram count model built at import from a fixed seed. The
fixture generator samples "clean" text from THIS model's Markov chain, so
in-domain text scores low perplexity and gibberish scores high — the same
separation a real KenLM gives on web text. The loader seam
(``get_model()``) is where real ARPA weights would plug in; the Spark side
holds the model in a per-Python-worker singleton (broadcast-once property,
BASELINE.json north_star).
"""

from __future__ import annotations

import math

import numpy as np

from .textcore import STOPWORDS, VOCAB, tokenize, word_ids

_V = len(VOCAB)
UNK = _V  # out-of-vocab id (== textcore.VOCAB_UNK)

_SMOOTH = 0.1
_SEED = 42
_TRAIN_SENTENCES = 4000
_TRAIN_MAXLEN = 24


def _build_transition_weights() -> np.ndarray:
    """Deterministic 'grammar': seeded sparse preference matrix."""
    rng = np.random.RandomState(_SEED)
    w = rng.gamma(0.3, 1.0, size=(_V, _V))
    # stopwords are hubs: boost transitions into and out of them
    n_stop = len(STOPWORDS)
    w[:, :n_stop] *= 4.0
    w[:n_stop, n_stop:] *= 4.0
    return w / w.sum(axis=1, keepdims=True)


_TRANS = _build_transition_weights()
_START = np.full(_V, 1.0 / _V)


def sample_words(rng: np.random.RandomState, n: int) -> list[str]:
    """Sample an n-word sequence from the frozen Markov chain.

    Used by both LM training (below) and the fixture generator, so fixture
    'clean' text is in-domain by construction.
    """
    out = []
    cur = int(rng.choice(_V, p=_START))
    out.append(VOCAB[cur])
    for _ in range(n - 1):
        cur = int(rng.choice(_V, p=_TRANS[cur]))
        out.append(VOCAB[cur])
    return out


def sample_lines_batch(
    rng: np.random.RandomState, lengths: np.ndarray, chunk: int = 50_000
) -> list[str]:
    """Vectorized twin of ``sample_words``: one Markov line per entry of
    ``lengths``, all chains advanced in lockstep (chunked). Used by the
    bench corpus generator — the per-word ``rng.choice`` path costs
    ~3ms/line, this ~3µs/line."""
    cum_t = np.cumsum(_TRANS, axis=1)
    out: list[str] = []
    for lo in range(0, len(lengths), chunk):
        ls = lengths[lo:lo + chunk]
        m = len(ls)
        max_len = int(ls.max())
        states = np.empty((m, max_len), dtype=np.int64)
        states[:, 0] = rng.randint(0, _V, m)
        for t in range(1, max_len):
            u = rng.rand(m)
            states[:, t] = (cum_t[states[:, t - 1]] > u[:, None]).argmax(axis=1)
        for row, ln in zip(states, ls):
            out.append(" ".join(VOCAB[i] for i in row[:ln]))
    return out


def _train_counts() -> tuple[np.ndarray, np.ndarray]:
    """Vectorized chain simulation: all sentences advance in lockstep.

    Executors pay this at first use (per-Python-worker singleton), so it
    must be milliseconds, not seconds — a per-word ``rng.choice`` loop
    here made the whole annotate stage scale-flat (every new worker spent
    seconds training before its first batch).
    """
    rng = np.random.RandomState(_SEED + 1)
    lengths = rng.randint(4, _TRAIN_MAXLEN, size=_TRAIN_SENTENCES)
    max_len = int(lengths.max())
    cum_t = np.cumsum(_TRANS, axis=1)
    states = np.empty((_TRAIN_SENTENCES, max_len), dtype=np.int64)
    states[:, 0] = rng.randint(0, _V, _TRAIN_SENTENCES)
    for t in range(1, max_len):
        u = rng.rand(_TRAIN_SENTENCES)
        states[:, t] = (cum_t[states[:, t - 1]] > u[:, None]).argmax(axis=1)
    mask = np.arange(max_len)[None, :] < lengths[:, None]
    uni = np.zeros(_V + 1, dtype=np.int64)
    np.add.at(uni, states[mask], 1)
    pair_mask = mask[:, 1:]
    prev = states[:, :-1][pair_mask]
    nxt = states[:, 1:][pair_mask]
    bi = np.zeros((_V + 1, _V + 1), dtype=np.int64)
    np.add.at(bi, (prev, nxt), 1)
    return uni, bi


# probability mass reserved for out-of-vocab words: one OOV token costs
# -log(P_UNK) ≈ 6.9 nats, so a 100%-OOV doc scores ppl ≈ 1000 while a doc
# with a few OOV words (emails, names) is barely moved — that is the
# separation the ppl_high rule keys on.
_P_UNK = 0.001
# bigram→unigram interpolation: unseen-but-in-vocab bigrams back off to the
# unigram, so in-domain word-salad scores moderate ppl (~V/λ_uni) instead
# of the Laplace floor, keeping it well under the OOV gibberish band.
_LAMBDA_BI = 0.6


class BigramLM:
    """Laplace-smoothed bigram LM over the frozen vocab with an explicit
    OOV probability."""

    def __init__(self) -> None:
        self.uni, self.bi = _train_counts()
        # in-vocab tables only (UNK handled by the explicit floor)
        uni = self.uni[:_V].astype(np.float64)
        bi = self.bi[:_V, :_V].astype(np.float64)
        denom = uni[:, None] + _SMOOTH * _V
        p_bi = (bi + _SMOOTH) / denom
        p_uni = (uni + _SMOOTH) / (uni.sum() + _SMOOTH * _V)
        # interpolated conditional, scaled by the in-vocab mass
        p_mix = (_LAMBDA_BI * p_bi + (1 - _LAMBDA_BI) * p_uni[None, :]) * (1 - _P_UNK)
        # log-probs QUANTIZED to multiples of 2^-20 (~1e-6 nat granularity):
        # every per-token term is k*2^-20 with |sum| << 2^33, so partial
        # sums are exactly representable and ADDITION IS EXACT — the total
        # log-prob is bit-identical under ANY summation order (sequential
        # loop, numpy pairwise, DuckDB SUM). This is what lets the doc_ppl
        # DuckDB oracle hash-match the Spark kernel exactly.
        q = 2.0 ** 20
        self.logp_bi = np.rint(np.log(p_mix) * q) / q
        self.logp_uni = np.rint(np.log(p_uni * (1 - _P_UNK)) * q) / q
        self.logp_unk = float(np.rint(math.log(_P_UNK) * q) / q)

    def word_ids(self, text: str, tokens: list[str] | None = None):
        ws = tokens if tokens is not None else tokenize(text)
        return word_ids(ws)

    def perplexity_ids(self, ids) -> float:
        """ppl from a precomputed ``textcore.word_ids`` array (the fused
        kernel path — ids are shared with langid/stopword_frac)."""
        n = len(ids)
        if n < 2:
            return 1.0
        prev, cur = ids[:-1], ids[1:]
        unk_cur = cur == UNK
        unk_prev = prev == UNK
        cur_c = np.where(unk_cur, 0, cur)
        prev_c = np.where(unk_prev, 0, prev)
        terms = np.where(
            unk_cur,
            self.logp_unk,
            np.where(unk_prev, self.logp_uni[cur_c], self.logp_bi[prev_c, cur_c]),
        )
        lp = float(terms.sum())  # exact: quantized terms (see __init__)
        return float(round(math.exp(-lp / (n - 1)), 6))

    def perplexity(self, text: str, tokens: list[str] | None = None) -> float:
        return self.perplexity_ids(self.word_ids(text, tokens))

    def perplexity_batch(self, texts: list[str | None]) -> list[float]:
        return [self.perplexity(t) if t else 1.0 for t in texts]


_MODEL: BigramLM | None = None
_ARPA_CACHE: dict = {}


def get_model(arpa_path: str | None = None):
    """Per-process singleton — loaded once per executor Python worker.

    Loader seam (VERDICT r1 next #8): with ``arpa_path`` (or the
    ``DQ_SPARK_LM_ARPA`` env var) set, returns a real ARPA-backed model
    (``model_loaders.ArpaLM``, same ``perplexity`` API) instead of the
    frozen synthetic bigram LM; ship the file to executors via
    ``SparkContext.addFile`` and set the env var in
    ``spark.executorEnv``."""
    import os

    path = arpa_path or os.environ.get("DQ_SPARK_LM_ARPA")
    if path:
        if path not in _ARPA_CACHE:
            from .model_loaders import load_arpa

            _ARPA_CACHE[path] = load_arpa(path)
        return _ARPA_CACHE[path]
    global _MODEL
    if _MODEL is None:
        _MODEL = BigramLM()
    return _MODEL
