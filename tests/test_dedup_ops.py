"""Dedup-family operator tests: exact dedup determinism, MinHash-LSH
near-dup recall (fast xxhash64 family), SimHash locality."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.fixture_gen import sample_words
from data_quality_assessment_spark.operators import dedup


def _doc(rng, n=80):
    return " ".join(sample_words(rng, n))


def _mutate(rng, text, n_edits=4):
    ws = text.split(" ")
    for _ in range(n_edits):
        i = int(rng.randint(len(ws)))
        ws[i] = "edited%d" % int(rng.randint(100))
    return " ".join(ws)


@pytest.fixture(scope="module")
def near_dup_corpus(spark):
    """60 distinct docs; docs 100+i are light mutations of doc i for i<10."""
    rng = np.random.RandomState(5)
    rows = [(i, _doc(rng)) for i in range(60)]
    rows += [(100 + i, _mutate(rng, rows[i][1])) for i in range(10)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_fast_finds_planted_near_dups(spark, near_dup_corpus):
    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_candidates(
            near_dup_corpus, "doc_id", "text", fast=True
        ).collect()
    }
    planted = {(i, 100 + i) for i in range(10)}
    found = planted & got
    assert len(found) >= 8, f"minhash recall too low: {sorted(found)}"
    # precision: few spurious pairs among the 60 distinct docs
    spurious = {p for p in got if p[1] < 100}
    assert len(spurious) <= 5, f"too many spurious candidates: {spurious}"


def test_minhash_fast_vs_md5_similar_candidates(spark, near_dup_corpus):
    """Both hash families implement the same LSH geometry — planted pairs
    should be found by both (they are different random bases, so exact
    candidate sets may differ on borderline pairs)."""
    fast = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_candidates(
            near_dup_corpus, "doc_id", "text", fast=True
        ).collect()
    }
    slow = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_candidates(
            near_dup_corpus, "doc_id", "text", fast=False
        ).collect()
    }
    planted = {(i, 100 + i) for i in range(10)}
    assert len(planted & fast) >= 8
    assert len(planted & slow) >= 8


def test_simhash_locality(spark, near_dup_corpus):
    sh = {
        r.doc_id: r.simhash
        for r in dedup.with_simhash(
            near_dup_corpus, "doc_id", "text", fast=True
        ).collect()
    }

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFF).count("1")

    near = [ham(sh[i], sh[100 + i]) for i in range(10)]
    rng = np.random.RandomState(0)
    far = [
        ham(sh[int(a)], sh[int(b)])
        for a, b in rng.randint(0, 60, (30, 2)) if a != b
    ]
    assert np.mean(near) < np.mean(far) - 4, (np.mean(near), np.mean(far))


def test_dedup_exact_permutation_invariant(spark):
    rows = [(f"u{i % 7}", i % 3, f"payload{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "k1 string, k2 int, v string")
    a = dedup.dedup_exact(df, ["k1", "k2"], F.col("v"))
    b = dedup.dedup_exact(
        df.orderBy(F.desc("v")).repartition(7), ["k1", "k2"], F.col("v")
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_dedup_pages_html_only_deterministic_winner(spark):
    """WARC-path D2 determinism through the flagship's dedup: dup groups
    where content lives in ``html`` (text null) must pick the same winner
    under any input order / partitioning, and that winner must be the
    min md5(text + hex(html)) row (plans/pipeline.content_tiebreak). The
    winner is read back as its extracted text."""
    import datetime
    import hashlib

    from data_quality_assessment_spark.plans.pipeline import (
        materialize_scrubbed,
        run_pipeline,
    )

    ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = []
    for g in range(6):
        for v in range(4):  # 4 html variants per (url, warc_ts) group
            rows.append(
                (f"https://h/{g}", ts, f"<p>body {g} variant {v}</p>".encode(),
                 None, None)
            )
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    df = spark.createDataFrame(rows, schema)

    def winners(d):
        out = materialize_scrubbed(run_pipeline(d))
        return {
            (r.url, r.scrubbed_text)
            for r in out.select("url", "scrubbed_text").collect()
        }

    a = winners(df)
    b = winners(df.orderBy(F.desc("html")).repartition(13))
    c = winners(df.repartition(3, "url"))
    assert a == b == c
    # winner = min md5('' + NUL + uppercase-hex(html)) within each group
    expect = set()
    for g in range(6):
        variants = [f"<p>body {g} variant {v}</p>".encode() for v in range(4)]
        best = min(
            variants,
            key=lambda h: hashlib.md5(
                ("\x00" + h.hex().upper()).encode()
            ).hexdigest(),
        )
        expect.add((f"https://h/{g}", best[3:-4].decode()))  # <p>, </p> stripped
    assert a == expect


def test_dup_count_metric_values(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 1), ("b", 1), ("b", 1)],
        "k string, t int",
    )
    row = dedup.dup_count_metric(df, ["k", "t"]).collect()[0]
    assert (row.n_total, row.n_dupes) == (6, 3)
    assert row.dupe_score == 0.5


# ---------------------------------------------------------------------------
# near-dup clustering (connected components + winner)
# ---------------------------------------------------------------------------


def test_connected_components_basic(spark):
    """Two components + an isolated edge; labels = min reachable id."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    got = {
        r.vertex: r.component
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}


def test_connected_components_long_path(spark):
    """A 40-vertex path: plain one-hop min propagation needs ~40
    rounds; pointer jumping must converge well inside max_iter=25."""
    n = 40
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {
        r.vertex: r.component
        for r in dedup.connected_components(edges, max_iter=25).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches localCheckpoint -> reliable checkpoint();
    same labels, and checkpoint files actually land in the dir."""
    import os

    n = 20
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    ckpt = str(tmp_path / "cc_ckpt")
    got = {
        r.vertex: r.component
        for r in dedup.connected_components(
            edges, checkpoint_dir=ckpt
        ).collect()
    }
    assert set(got.values()) == {0} and len(got) == n + 1
    wrote = any(files for _, _, files in os.walk(ckpt))
    assert wrote, "reliable checkpoint dir is empty"


def test_entity_dup_counts_rejects_non_key_entity(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 1, "y")], "k string, t int, e string"
    )
    with pytest.raises(ValueError, match="must be one of the dedup keys"):
        dedup.entity_dup_counts(df, "e", ["k", "t"])


def test_near_dup_clusters_end_to_end(spark):
    """Planted transitive near-dup chain A~B~C (A and C need NOT be
    band-mates — transitivity comes from components), plus unrelated
    docs; exactly one winner per cluster."""
    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        (1, base + "tail one"),
        (2, base + "tail two"),
        (3, base + "tail two variant"),
        (50, "completely different content about spark plans " * 10),
        (60, "another unrelated document body entirely " * 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           dedup.near_dup_clusters(df, "doc_id", "text",
                                   min_jaccard=0.5).collect()}
    # the three variants cluster together under winner 1
    assert got[1].component == 1 and got[1].keep
    assert got[2].component == 1 and not got[2].keep
    assert got[3].component == 1 and not got[3].keep
    # unrelated docs are not in any cluster (not returned)
    assert 50 not in got and 60 not in got


def test_content_tiebreak_field_boundary_unambiguous(spark):
    """(text='AB', html=NULL) and (text='', html=0xAB) concatenate to
    the same md5 input without a delimiter; the NUL separator makes the
    field boundary unambiguous (ADVICE r5)."""
    from data_quality_assessment_spark.plans.pipeline import content_tiebreak

    df = spark.createDataFrame(
        [("AB", None), ("", bytearray(b"\xab"))],
        "text string, html binary",
    )
    tbs = [r[0] for r in df.select(content_tiebreak()).collect()]
    assert tbs[0] != tbs[1]


def test_unhex_tiebreak_order_equals_hex_order(spark):
    """run_pipeline shuffles unhex(md5) (16 bytes) instead of the hex
    string (32 chars) as the dedup sort key (r6). Hex digits 0-9A-F are
    monotone in ASCII, so hex-string lexicographic order must equal the
    raw bytes' unsigned order — the winner per dedup group is unchanged.
    Pin it over many random-ish md5 values."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(f"doc {i} payload",) for i in range(500)], "text string"
    )
    h = df.select(F.md5("text").alias("hex"),
                  F.unhex(F.md5("text")).alias("bin"))
    by_hex = [r.hex for r in h.orderBy(F.col("hex").asc()).collect()]
    by_bin = [r.hex for r in h.orderBy(F.col("bin").asc()).collect()]
    assert by_hex == by_bin
