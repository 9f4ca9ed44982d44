"""Winnowing fingerprints: the phase-free shared-substring guarantee
(any verbatim span >= w + k - 1 chars is detected regardless of its
offset in either document), selectivity, and edge cases."""

from __future__ import annotations

import random
import string

from data_quality_assessment_spark.operators import winnow


def _rand_text(rng, n):
    return "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(n))


def test_phase_shifted_span_detected(spark):
    """The same 40-char span planted at DIFFERENT offsets (1 and 7
    chars — every phase class mod any small stride) must connect the
    pair; strided tiling misses mismatched phases, winnowing cannot."""
    rng = random.Random(5)
    span = "this exact span is shared verbatim here!"
    assert len(span) >= winnow.DEFAULT_W + winnow.DEFAULT_K - 1
    rows = []
    did = 0
    for off_a in (0, 1, 3, 7):
        for off_b in (0, 2, 5, 11):
            a = _rand_text(rng, 60 + off_a) + span + _rand_text(rng, 50)
            b = _rand_text(rng, 60 + off_b) + span + _rand_text(rng, 50)
            rows.append((did, a))
            rows.append((did + 1, b))
            did += 2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in winnow.winnow_pairs(df, "doc_id", "text").collect()
    }
    for i in range(0, did, 2):
        assert (i, i + 1) in pairs, f"planted pair ({i},{i+1}) missed"


def test_unrelated_docs_share_nothing(spark):
    rng = random.Random(9)
    rows = [(i, _rand_text(rng, 300)) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert winnow.winnow_pairs(df, "doc_id", "text").count() == 0


def test_short_and_null_texts(spark):
    rows = [(1, None), (2, ""), (3, "tiny"), (4, "x" * 30), (5, "x" * 30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnow.winnow_fingerprints(df, "doc_id", "text")
    ids = {r.doc_id for r in fp.collect()}
    assert 1 not in ids and 2 not in ids and 3 not in ids
    # identical repetitive docs still pair (one distinct fingerprint)
    pairs = winnow.winnow_pairs(df, "doc_id", "text").collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(4, 5)]


def test_density_bound(spark):
    """Fingerprint count is a small fraction of k-grams (~2/(w+1))."""
    rng = random.Random(11)
    df = spark.createDataFrame(
        [(1, _rand_text(rng, 2000))], "doc_id long, text string"
    )
    n_fp = winnow.winnow_fingerprints(df, "doc_id", "text").count()
    n_grams = 2000 - winnow.DEFAULT_K + 1
    assert n_fp <= n_grams * 3 / (winnow.DEFAULT_W + 1)


def test_fast_and_oracle_families_agree_on_pairs(spark):
    """xxhash64 and md5 families select different hashes but must find
    the same PAIR STRUCTURE on planted data."""
    rng = random.Random(3)
    span = "another long shared verbatim sentence goes right here"
    rows = [
        (0, _rand_text(rng, 80) + span + _rand_text(rng, 40)),
        (1, _rand_text(rng, 30) + span + _rand_text(rng, 90)),
        (2, _rand_text(rng, 250)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast = {(r.id_a, r.id_b)
            for r in winnow.winnow_pairs(df, "doc_id", "text").collect()}
    slow = {(r.id_a, r.id_b)
            for r in winnow.winnow_pairs(df, "doc_id", "text",
                                         fast=False).collect()}
    assert (0, 1) in fast and (0, 1) in slow
    assert all(2 not in p for p in fast | slow)


# ---------------------------------------------------------------------------
# exact-substring removal (Lee et al. 2021 step over winnowing pairs)
# ---------------------------------------------------------------------------


def test_exact_substring_removal_phase_shift(spark):
    """A 60-char span planted at different offsets: canonical (smaller
    id) copy stays intact, the lower-priority copy loses the span,
    unrelated docs pass through unchanged."""
    span = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "alpha start " + span + " ending one"),
        (2, "bb" + span + " totally different tail"),
        (3, "unrelated qqq www vvv kkk mmm nnn xxx yyy zzz padding body"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in winnow.exact_substring_removal(df, "doc_id", "text").collect()
    }
    assert got[1].text_clean == rows[0][1] and got[1].n_removed == 0
    assert span not in got[2].text_clean
    assert got[2].n_removed >= len(span)
    assert got[2].text_clean.startswith("bb")
    assert got[3].text_clean == rows[2][1] and got[3].n_removed == 0


def test_exact_substring_removal_multiple_partners(spark):
    """A doc sharing DIFFERENT spans with two higher-priority docs
    loses both (covered positions union across partners)."""
    s1 = "first shared verbatim segment body one two three four five"
    s2 = "second shared verbatim chunk alpha beta gamma delta epsilon"
    rows = [
        (1, "aaa " + s1 + " zzz"),
        (2, "bbb " + s2 + " yyy"),
        (10, "start " + s1 + " middle " + s2 + " end"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in winnow.exact_substring_removal(df, "doc_id", "text").collect()
    }
    assert got[1].n_removed == 0 and got[2].n_removed == 0
    assert s1 not in got[10].text_clean and s2 not in got[10].text_clean
    assert got[10].n_removed >= len(s1) + len(s2)
    assert "start" in got[10].text_clean and "end" in got[10].text_clean


def test_exact_substring_removal_below_threshold_kept(spark):
    """Shared spans shorter than min_len survive removal (the operator
    excises only >= min_len runs even when the pair is detected)."""
    short = "tiny shared bit here!!"  # 22 chars: detected (>=17) but < 30
    rows = [
        (1, "one " + short + " tail number one padding padding padding"),
        (2, "two " + short + " other tail entirely different padding!!"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in winnow.exact_substring_removal(
            df, "doc_id", "text", min_len=30
        ).collect()
    }
    assert got[2].n_removed == 0
    assert got[2].text_clean == rows[1][1]


# ---------------------------------------------------------------------------
# round-5 skew guards: max_df fingerprint cap + max_partners fan-in cap
# ---------------------------------------------------------------------------


def test_winnow_pairs_max_df_bounds_boilerplate_blowup(spark):
    """A boilerplate span planted in many docs must not emit quadratic
    candidate pairs when max_df caps hot fingerprints; a genuine
    two-doc copy (whose fingerprints have df=2) must survive the cap."""
    import numpy as np

    from tests.fixture_gen import sample_words

    rng = np.random.RandomState(11)
    boiler = "this license header is identical across the entire corpus"
    rows = [
        (i, " ".join(sample_words(rng, 20)) + " " + boiler)
        for i in range(60)
    ]
    # a real copied pair with UNIQUE shared content (df=2 fingerprints)
    shared = " ".join(sample_words(rng, 30))
    rows += [(1000, "prefix " + shared), (1001, shared + " suffix")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = winnow.winnow_pairs(df, "doc_id", "text").count()
    assert uncapped >= 60 * 59 / 2  # the blowup the cap prevents

    capped = winnow.winnow_pairs(df, "doc_id", "text", max_df=10)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (1000, 1001) in got  # df=2 fingerprints untouched by the cap
    # every surviving pair key has bucket size <= max_df -> total pairs
    # bounded far below the quadratic count
    assert len(got) < uncapped / 10


def test_minhash_candidates_max_df_bounds_identical_cluster(spark):
    """1000 identical docs share every band key: uncapped emits C^2/2
    pairs; max_df drops those buckets entirely (exact dedup handles
    identical docs) while distinct near-dup pairs survive."""
    import numpy as np

    from tests.fixture_gen import sample_words
    from data_quality_assessment_spark.operators import dedup as dd

    rng = np.random.RandomState(12)
    boiler = " ".join(sample_words(rng, 40))
    rows = [(i, boiler) for i in range(200)]  # identical cluster
    base = " ".join(sample_words(rng, 40))
    ws = base.split()
    ws[5] = "mutated"
    rows += [(1000, base), (1001, " ".join(ws))]  # a genuine near-dup pair
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = {
        (r.id_a, r.id_b)
        for r in dd.minhash_candidates(
            df, "doc_id", "text", max_df=50
        ).collect()
    }
    assert (1000, 1001) in capped
    # no pair from the 200-doc identical cluster survives the cap
    assert not any(a < 200 and b < 200 for a, b in capped)


def test_winnow_max_df_no_extra_shuffle(spark):
    """The df-cap window must ride the self-join's fp exchange — same
    Exchange count capped vs uncapped (plan-pinned)."""
    df = spark.createDataFrame(
        [(i, f"some text body number {i % 5} repeated here") for i in range(20)],
        "doc_id long, text string",
    )

    def nex(d):
        return d._jdf.queryExecution().executedPlan().toString().count("Exchange")

    assert nex(winnow.winnow_pairs(df, "doc_id", "text", max_df=5)) == nex(
        winnow.winnow_pairs(df, "doc_id", "text")
    )


def test_substring_removal_max_partners_bounds_fan_in(spark):
    """One low-priority doc candidate-paired with 500 partners: the cap
    keeps the top-N partners by n_shared, the excision group collects N
    gram arrays instead of 500, and the dominant shared span is still
    removed."""
    import numpy as np

    from tests.fixture_gen import sample_words

    rng = np.random.RandomState(13)
    span = "the one long verbatim paragraph that must still be excised ok"
    # 500 higher-priority partners all containing the span
    rows = [
        (i, " ".join(sample_words(rng, 10)) + " " + span)
        for i in range(500)
    ]
    victim_text = "unique prefix words " + span + " unique suffix words"
    rows.append((9000, victim_text))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = {
        r.doc_id: r
        for r in winnow.exact_substring_removal(
            df, "doc_id", "text", max_partners=8
        ).collect()
    }
    v = out[9000]
    assert span not in v.text_clean
    # boundary grams may legitimately match a partner ending in the same
    # word, so only the inner prefix/suffix are guaranteed to survive
    assert "unique prefix" in v.text_clean
    assert "unique suffix words" in v.text_clean
    assert v.n_removed >= len(span)
    # capped and uncapped agree on this corpus (coverage is the same
    # span from every partner)
    unc = {
        r.doc_id: r.text_clean
        for r in winnow.exact_substring_removal(
            df, "doc_id", "text"
        ).collect()
    }
    assert unc[9000] == v.text_clean
