"""Determinism + separation of the frozen langid / perplexity models."""

from __future__ import annotations

import numpy as np

from data_quality_assessment_spark.functions import lm
from tests.fixture_gen import sample_words
from tests.oracle import lang_id


def test_lm_deterministic_across_instances():
    a = lm.BigramLM()
    b = lm.BigramLM()
    texts = ["the data stream is open", "zzz qqq vvv www", ""]
    for t in texts:
        assert a.perplexity(t) == b.perplexity(t)


def test_ppl_separation():
    m = lm.get_model()
    rng = np.random.RandomState(5)
    clean = " ".join(sample_words(rng, 80))
    gib = " ".join("".join(rng.choice(list("qwzxjv"), 6)) for _ in range(80))
    assert m.perplexity(clean) < 200
    assert m.perplexity(gib) > 500


def test_ppl_short_text_neutral():
    m = lm.get_model()
    assert m.perplexity("") == 1.0
    assert m.perplexity("one") == 1.0


def test_langid_scripts():
    assert lang_id("привет мир как дела сегодня")[0] == "xx_cyr"
    assert lang_id("你好 世界 今天 天气")[0] == "xx_cjk"
    assert lang_id("नमस्ते दुनिया आज")[0] == "xx_deva"
    assert lang_id("the cat is on the mat and it is warm")[0] == "en"
    assert lang_id("")[0] == "unk"
    assert lang_id("1234 5678 !!!")[0] == "unk"


def test_langid_mixed_script_majority():
    lang, conf = lang_id("привет hello мир здесь много русских слов")
    assert lang == "xx_cyr"
    assert conf > 0.3
