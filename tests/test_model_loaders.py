"""Real-artifact loader seams (VERDICT r1 next #8): ARPA parsing +
backoff scoring, fastText header validation, the lm.get_model() swap-in
path (including through the fused kernel), and the PIL-optional image
decode seam — all against tiny checked-in / synthesized fixtures, no
network, no bundled binaries."""

from __future__ import annotations

import os
import struct

import pytest

from data_quality_assessment_spark.functions import model_loaders as ml

FIX = os.path.join(os.path.dirname(__file__), "fixtures")
ARPA = os.path.join(FIX, "tiny.arpa")


def test_arpa_parse_counts_and_entries():
    lm = ml.load_arpa(ARPA)
    assert len(lm.uni) == 5 and len(lm.bi) == 4
    assert lm.uni["the"] == (-0.60206, -0.30103)
    assert lm.bi[("the", "cat")] == (-0.30103, 0.0)


def test_arpa_backoff_scoring():
    lm = ml.load_arpa(ARPA)
    # existing bigram: direct log10 prob
    assert lm.score("the", "cat") == -0.30103
    # missing bigram (cat -> mat): backoff(cat) + uni(mat)
    assert lm.score("cat", "mat") == pytest.approx(-0.17609 + -1.0)
    # OOV current word maps to <unk>
    assert lm.score("the", "zzz") == pytest.approx(-0.30103 + -1.0)
    # case folding: engine tokens are matched lowercased
    assert lm.score("The", "CAT") == -0.30103


def test_arpa_perplexity_matches_hand_math():
    lm = ml.load_arpa(ARPA)
    # "the cat sat" -> score(the,cat) + score(cat,sat) over 2 transitions
    lp = -0.30103 + -0.39794
    want = round(10.0 ** (-lp / 2), 6)
    assert lm.perplexity("the cat sat") == want
    assert lm.perplexity("one") == 1.0  # <2 tokens


TRI_ARPA = """\\data\\
ngram 1=3
ngram 2=2
ngram 3=1

\\1-grams:
-0.5\tthe\t-0.2
-0.7\tcat\t-0.1
-0.9\tsat\t0.0

\\2-grams:
-0.3\tthe cat\t-0.15
-0.4\tcat sat

\\3-grams:
-0.25\tthe cat sat

\\end\\
"""


def test_arpa_trigram_backoff_chain(tmp_path):
    """Order-3 parsing + the standard backoff chain: existing trigram ->
    direct; missing trigram -> bigram backoff + bigram score."""
    p = tmp_path / "tri.arpa"
    p.write_text(TRI_ARPA)
    lm = ml.load_arpa(str(p))
    assert lm.order == 3
    assert lm.score3("the", "cat", "sat") == -0.25
    # (cat, sat, the): no trigram; backoff(cat sat)=0.0 + score(sat, the)
    # score(sat, the): no bigram (sat the) -> backoff(sat)=0.0 + uni(the)
    assert lm.score3("cat", "sat", "the") == pytest.approx(0.0 + 0.0 + -0.5)
    # perplexity: first transition scored as bigram, rest as trigram
    lp = lm.score("the", "cat") + lm.score3("the", "cat", "sat")
    assert lm.perplexity("the cat sat") == round(10.0 ** (-lp / 2), 6)


def test_arpa_order4_rejected(tmp_path):
    p = tmp_path / "o4.arpa"
    p.write_text("\\data\\\nngram 4=1\n\n\\4-grams:\n-1.0\ta b c d\n\\end\\\n")
    with pytest.raises(ValueError, match="unsupported"):
        ml.load_arpa(str(p))


def test_arpa_header_count_mismatch_rejected(tmp_path):
    bad = tmp_path / "bad.arpa"
    bad.write_text(
        "\\data\\\nngram 1=2\n\n\\1-grams:\n-1.0\tthe\t0.0\n\\end\\\n"
    )
    with pytest.raises(ValueError, match="declares 2"):
        ml.load_arpa(str(bad))


def test_get_model_arpa_seam(monkeypatch):
    from data_quality_assessment_spark.functions import lm as lm_mod

    model = lm_mod.get_model(arpa_path=ARPA)
    assert isinstance(model, ml.ArpaLM)
    # env-var path (the executor-side configuration)
    monkeypatch.setenv("DQ_SPARK_LM_ARPA", ARPA)
    model2 = lm_mod.get_model()
    assert isinstance(model2, ml.ArpaLM)
    monkeypatch.delenv("DQ_SPARK_LM_ARPA")
    assert not isinstance(lm_mod.get_model(), ml.ArpaLM)


def test_kernel_runs_with_arpa_model(monkeypatch):
    """The fused enrich kernel works with a swapped-in real LM (no
    perplexity_ids fast path) and its ppl matches the direct call."""
    monkeypatch.setenv("DQ_SPARK_LM_ARPA", ARPA)
    from data_quality_assessment_spark.functions.kernel import enrich_batch

    cols = enrich_batch([None], ["the cat sat on the mat"])
    lm = ml.load_arpa(ARPA)
    assert cols["ppl"][0] == lm.perplexity("the cat sat on the mat")
    monkeypatch.delenv("DQ_SPARK_LM_ARPA")


def _fake_fasttext_header(tmp_path, magic=ml.FASTTEXT_MAGIC, model=3):
    p = tmp_path / "lid.bin"
    ints = [16, 5, 5, 1, 5, 1, 3, model, 2_000_000, 2, 4, 100]  # dim..lrUpdateRate
    p.write_bytes(
        struct.pack("<ii", magic, 12)
        + struct.pack("<12i", *ints)
        + struct.pack("<d", 1e-4)
    )
    return str(p)


def test_fasttext_header_roundtrip(tmp_path):
    h = ml.read_fasttext_header(_fake_fasttext_header(tmp_path))
    assert h.dim == 16 and h.minn == 2 and h.maxn == 4
    assert h.model == 3  # langid models are supervised
    assert h.t == pytest.approx(1e-4)


def test_fasttext_bad_magic_rejected(tmp_path):
    p = _fake_fasttext_header(tmp_path, magic=123)
    with pytest.raises(ValueError, match="not a fastText model"):
        ml.read_fasttext_header(p)


def test_image_decode_seam_fake_and_fallback():
    from data_quality_assessment_spark.functions import multimodal as mm

    assert mm._decode_image(mm.encode_fake_image(7, 9)) == (7, 9)
    if mm._PILImage is None:
        with pytest.raises(NotImplementedError):
            mm._decode_image(b"\x89PNG\r\n\x1a\nnotreal")
    else:
        # real codec present: a valid 1x1 PNG decodes through PIL
        import io

        buf = io.BytesIO()
        mm._PILImage.new("RGB", (3, 2)).save(buf, format="PNG")
        assert mm._decode_image(buf.getvalue()) == (3, 2)


def test_arpa_zero_count_higher_order_ignored(tmp_path):
    """Some tools emit 'ngram 4=0' in the header with no section body:
    that must parse cleanly (not KeyError); a NON-zero undeclared-body
    higher order still raises the clear unsupported-order error."""
    ok = tmp_path / "z4.arpa"
    ok.write_text(
        "\\data\\\nngram 1=1\nngram 4=0\n\n\\1-grams:\n-0.5\tthe\t0.0\n\\end\\\n"
    )
    lm = ml.load_arpa(str(ok))
    assert lm.score("x", "the") == -0.5
    bad = tmp_path / "nz4.arpa"
    bad.write_text(
        "\\data\\\nngram 1=1\nngram 4=3\n\n\\1-grams:\n-0.5\tthe\t0.0\n\\end\\\n"
    )
    with pytest.raises(ValueError, match="unsupported"):
        ml.load_arpa(str(bad))


# ---------------------------------------------------------------------------
# fastText .bin forward pass
# ---------------------------------------------------------------------------


def _write_ft_bin(path, words, labels, input_mat, output_mat, *,
                  dim, bucket=0, minn=0, maxn=0, word_ngrams=1, loss=3,
                  label_counts=None, pruneidx=None):
    """Synthesize an unquantized supervised .bin in the exact layout of
    FastText::saveModel (public format; see model_loaders.load_fasttext).
    ``pruneidx`` (dict old_bucket_id -> compact_row) serializes the
    quantize-cutoff pruning pairs after the dictionary entries."""
    import struct

    import numpy as np

    with open(path, "wb") as f:
        f.write(struct.pack("<ii", ml.FASTTEXT_MAGIC, 12))
        f.write(struct.pack(
            "<12i", dim, 5, 5, 1, 5, word_ngrams, loss, 3, bucket, minn, maxn, 100
        ))
        f.write(struct.pack("<d", 1e-4))
        size = len(words) + len(labels)
        f.write(struct.pack("<3i", size, len(words), len(labels)))
        f.write(struct.pack(
            "<2q", 1000, len(pruneidx) if pruneidx is not None else -1
        ))  # ntokens, pruneidx_size (-1 = unpruned, as fastText writes)
        for w in words:
            f.write(w.encode("utf-8") + b"\x00" + struct.pack("<qb", 10, 0))
        for i, la in enumerate(labels):
            c = label_counts[i] if label_counts else 5
            f.write(la.encode("utf-8") + b"\x00" + struct.pack("<qb", c, 1))
        if pruneidx is not None:
            for old, newi in pruneidx.items():
                f.write(struct.pack("<2i", old, newi))
        f.write(struct.pack("<?", False))
        im = np.asarray(input_mat, dtype="<f4")
        f.write(struct.pack("<2q", *im.shape))
        f.write(im.tobytes())
        f.write(struct.pack("<?", False))
        om = np.asarray(output_mat, dtype="<f4")
        f.write(struct.pack("<2q", *om.shape))
        f.write(om.tobytes())


def test_fasttext_hash_pinned():
    """FNV-1a 32 over UTF-8 bytes — pinned against hand-computed values
    so the hashing can't silently drift from the fastText dictionary."""
    h = 2166136261
    for b in b"ab":
        h = ((h ^ b) * 16777619) & 0xFFFFFFFF
    assert ml.ft_hash("ab") == h
    assert ml.ft_hash("") == 2166136261


def test_fasttext_forward_pass_softmax(tmp_path):
    """Dim-4, no buckets: hidden = mean of token rows (incl. EOS),
    probs = softmax(output @ hidden) — checked against independent
    numpy math on the same weights."""
    import numpy as np

    words = ["bonjour", "monde", "hello", "world", "</s>"]
    labels = ["__label__fr", "__label__en"]
    rng = np.random.RandomState(3)
    im = rng.randn(5, 4).astype(np.float32)
    om = rng.randn(2, 4).astype(np.float32)
    p = tmp_path / "m.bin"
    _write_ft_bin(p, words, labels, im, om, dim=4)
    m = ml.load_fasttext(str(p))

    got = m.predict("bonjour monde", k=2)
    hidden = im[[0, 1, 4]].mean(axis=0)  # bonjour, monde, </s>
    logits = om @ hidden
    e = np.exp(logits - logits.max())
    probs = e / e.sum()
    want = sorted(zip(labels, probs), key=lambda x: -x[1])
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gl, gp), (wl, wp) in zip(got, want):
        assert gp == pytest.approx(float(wp), abs=1e-6)


def test_fasttext_oov_and_empty(tmp_path):
    import numpy as np

    words = ["a", "</s>"]
    labels = ["__label__x"]
    p = tmp_path / "m2.bin"
    _write_ft_bin(p, words, labels, np.eye(2, 3), np.ones((1, 3)), dim=3)
    m = ml.load_fasttext(str(p))
    # OOV tokens with maxn=0 contribute nothing; EOS still anchors
    lab, prob = m.predict_lang("zzz unknown tokens")
    assert lab == "x" and 0 < prob <= 1
    rows, _ = m._line_rows("zzz")
    assert rows == [1]  # only </s>


def test_fasttext_subword_buckets(tmp_path):
    """minn=2/maxn=3: in-vocab AND OOV words pull char-ngram rows from
    the bucket range [nwords, nwords+bucket); one ngram hash pinned by
    hand so computeSubwords can't drift."""
    import numpy as np

    bucket = 7
    words = ["cat", "</s>"]
    labels = ["__label__y"]
    p = tmp_path / "m3.bin"
    _write_ft_bin(
        p, words, labels, np.ones((2 + bucket, 2)), np.ones((1, 2)),
        dim=2, bucket=bucket, minn=2, maxn=3,
    )
    m = ml.load_fasttext(str(p))
    rows, _ = m._line_rows("cat dog")
    # "cat": word id 0 + subwords of "<cat>"; "dog" OOV: subwords only
    assert 0 in rows
    sub_rows = [r for r in rows if r >= 2]
    assert sub_rows  # bucket rows present
    assert all(2 <= r < 2 + bucket for r in sub_rows)
    # hand-derived: subword list of "<cat>" per computeSubwords includes
    # the 2-gram "<c" (n=2 >= minn, not excluded)
    assert (2 + ml.ft_hash("<c") % bucket) in rows
    # full-token unigram "<cat>" spans BOW..EOW at n=3? no — "cat" is
    # 3 chars, "<cat>" is 5; ngrams are length<=3 so no full-span entry


def _sx32(h: int) -> int:
    """uint32 -> int32 -> uint64 (fastText's vector<int32_t> narrowing
    + sign-extending conversion inside addWordNgrams)."""
    return h | 0xFFFFFFFF00000000 if h >= 0x80000000 else h


def test_fasttext_word_ngrams(tmp_path):
    """wordNgrams=2: consecutive token-hash pairs hash into the bucket
    range with the rolling 116049371 multiplier, with each uint32 token
    hash narrowed through int32 and sign-extended to uint64 first
    (upstream Dictionary::addWordNgrams semantics)."""
    import numpy as np

    bucket = 11
    words = ["a", "b", "</s>"]
    labels = ["__label__z"]
    p = tmp_path / "m4.bin"
    _write_ft_bin(
        p, words, labels, np.ones((3 + bucket, 2)), np.ones((1, 2)),
        dim=2, bucket=bucket, word_ngrams=2,
    )
    m = ml.load_fasttext(str(p))
    rows, hashes = m._line_rows("a b")
    h_ab = (
        (_sx32(ml.ft_hash("a")) * 116049371 + _sx32(ml.ft_hash("b")))
        % (1 << 64) % bucket
    )
    assert (3 + h_ab) in rows
    assert hashes == [ml.ft_hash("a"), ml.ft_hash("b"), ml.ft_hash("</s>")]


def test_fasttext_word_ngrams_sign_extension(tmp_path):
    """A token whose uint32 hash has bit 31 set must bucket as if
    sign-extended (0xFFFFFFFF8xxxxxxx), not as the raw uint32 — the
    divergence that made round-3 predictions differ from real .bin
    models on ~half of all tokens."""
    import numpy as np

    # find two short ascii tokens, one with bit 31 set, one without
    hi = next(
        w for w in ("a", "b", "c", "d", "e", "f", "g", "x", "y", "z",
                    "aa", "ab", "ac")
        if ml.ft_hash(w) >= 0x80000000
    )
    lo = next(
        w for w in ("a", "b", "c", "d", "e", "f", "g", "x", "y", "z",
                    "aa", "ab", "ac")
        if ml.ft_hash(w) < 0x80000000
    )
    bucket = 2_000_003  # large: raw-uint32 vs sign-extended must differ
    words = [hi, lo, "</s>"]
    p = tmp_path / "m5.bin"
    _write_ft_bin(
        p, words, ["__label__z"], np.ones((3 + bucket, 2)),
        np.ones((1, 2)), dim=2, bucket=bucket, word_ngrams=2,
    )
    m = ml.load_fasttext(str(p))
    rows, _ = m._line_rows(f"{hi} {lo}")
    good = (
        (_sx32(ml.ft_hash(hi)) * 116049371 + _sx32(ml.ft_hash(lo)))
        % (1 << 64) % bucket
    )
    bad = (
        (ml.ft_hash(hi) * 116049371 + ml.ft_hash(lo))
        % (1 << 64) % bucket
    )
    assert good != bad  # the test would be vacuous otherwise
    assert (3 + good) in rows
    assert (3 + bad) not in rows


# ---------------------------------------------------------------------------
# quantized .ftz (product quantization)
# ---------------------------------------------------------------------------


def _exact_pq(mat, dsub):
    """Build an EXACT product-quantizer codebook for ``mat`` (each
    sub-space must have <= 256 distinct sub-vectors): decode(codes)
    reproduces mat bit-for-bit, so the .ftz twin must predict
    IDENTICALLY to its .bin twin — a sharper check than tolerating
    'within PQ error'."""
    import numpy as np

    m, dim = np.asarray(mat).shape
    nsubq = (dim + dsub - 1) // dsub
    lastdsub = dim % dsub or dsub
    cent = np.zeros(dim * 256, dtype=np.float32)
    codes = np.zeros((m, nsubq), dtype=np.uint8)
    for sub in range(nsubq):
        d = dsub if sub < nsubq - 1 else lastdsub
        block = np.asarray(mat, dtype=np.float32)[:, sub * dsub:sub * dsub + d]
        uniq, inv = np.unique(block, axis=0, return_inverse=True)
        assert len(uniq) <= 256, "fixture sub-space needs <=256 distinct vecs"
        base = sub * 256 * dsub
        cent[base:base + uniq.size] = uniq.ravel()
        codes[:, sub] = inv.reshape(-1)  # numpy>=2.1 keeps dims with axis=
    return codes, cent, nsubq, lastdsub


def _write_quant_matrix(f, mat, *, dsub=2, qnorm=True):
    """QuantMatrix::save layout (see model_loaders._read_quant_matrix)."""
    import struct

    import numpy as np

    mat = np.asarray(mat, dtype=np.float32)
    m, n = mat.shape
    if qnorm:
        norms = np.linalg.norm(mat.astype(np.float64), axis=1).astype(
            np.float32
        )
        normalized = (mat / norms[:, None]).astype(np.float32)
    else:
        normalized = mat
    codes, cent, nsubq, lastdsub = _exact_pq(normalized, dsub)
    f.write(struct.pack("<?", qnorm))
    f.write(struct.pack("<2q", m, n))
    f.write(struct.pack("<i", m * nsubq))
    f.write(codes.tobytes())
    f.write(struct.pack("<4i", n, nsubq, dsub, lastdsub))
    f.write(cent.tobytes())
    if qnorm:
        ncodes, ncent, _, _ = _exact_pq(norms[:, None], 1)
        f.write(ncodes.tobytes())
        f.write(struct.pack("<4i", 1, 1, 1, 1))
        f.write(ncent.tobytes())


def _write_ft_ftz(path, words, labels, input_mat, output_mat, *,
                  dim, bucket=0, minn=0, maxn=0, word_ngrams=1,
                  qout=True, qnorm=True, dsub=2):
    """Synthesize a quantized supervised .ftz: same header/dictionary
    as .bin, quant flags True, QuantMatrix bodies."""
    import struct

    with open(path, "wb") as f:
        f.write(struct.pack("<ii", ml.FASTTEXT_MAGIC, 12))
        f.write(struct.pack(
            "<12i", dim, 5, 5, 1, 5, word_ngrams, 3, 3, bucket, minn, maxn, 100
        ))
        f.write(struct.pack("<d", 1e-4))
        size = len(words) + len(labels)
        f.write(struct.pack("<3i", size, len(words), len(labels)))
        f.write(struct.pack("<2q", 1000, 0))
        for w in words:
            f.write(w.encode("utf-8") + b"\x00" + struct.pack("<qb", 10, 0))
        for la in labels:
            f.write(la.encode("utf-8") + b"\x00" + struct.pack("<qb", 5, 1))
        f.write(struct.pack("<?", True))  # quant_input
        _write_quant_matrix(f, input_mat, dsub=dsub, qnorm=qnorm)
        f.write(struct.pack("<?", qout))
        if qout:
            _write_quant_matrix(f, output_mat, dsub=dsub, qnorm=qnorm)
        else:
            import numpy as np

            om = np.asarray(output_mat, dtype="<f4")
            f.write(struct.pack("<2q", *om.shape))
            f.write(om.tobytes())


@pytest.mark.parametrize("qnorm,qout", [(True, True), (False, False),
                                        (True, False)])
def test_fasttext_quantized_matches_dense_twin(tmp_path, qnorm, qout):
    """An .ftz with an exact codebook predicts like its .bin twin: same
    labels, probabilities within float32 reconstruction error."""
    import numpy as np

    words = ["bonjour", "monde", "hello", "world", "</s>"]
    labels = ["__label__fr", "__label__en"]
    rng = np.random.RandomState(11)
    im = rng.randn(5, 4).astype(np.float32)
    om = rng.randn(2, 4).astype(np.float32)
    pb = tmp_path / "m.bin"
    pq = tmp_path / "m.ftz"
    _write_ft_bin(pb, words, labels, im, om, dim=4)
    _write_ft_ftz(pq, words, labels, im, om, dim=4, qnorm=qnorm, qout=qout)
    dense = ml.load_fasttext(str(pb))
    quant = ml.load_fasttext(str(pq))
    np.testing.assert_allclose(quant.input, im, rtol=1e-6, atol=1e-6)
    np.testing.assert_allclose(quant.output, om, rtol=1e-6, atol=1e-6)
    for text in ("bonjour monde", "hello world", "bonjour hello", ""):
        gd = dense.predict(text, k=2)
        gq = quant.predict(text, k=2)
        assert [l for l, _ in gd] == [l for l, _ in gq]
        for (_, p1), (_, p2) in zip(gd, gq):
            assert abs(p1 - p2) < 1e-5


def test_fasttext_quantized_odd_dim_lastdsub(tmp_path):
    """dim=5, dsub=2 -> nsubq=3 with lastdsub=1: the trailing sub-space
    offset math (get_centroids' special last-block layout) must decode
    the tail dimension correctly."""
    import numpy as np

    words = ["a", "b", "</s>"]
    labels = ["__label__x", "__label__y"]
    rng = np.random.RandomState(7)
    im = rng.randn(3, 5).astype(np.float32)
    om = rng.randn(2, 5).astype(np.float32)
    pq = tmp_path / "odd.ftz"
    _write_ft_ftz(pq, words, labels, im, om, dim=5, qnorm=True, qout=True)
    m = ml.load_fasttext(str(pq))
    np.testing.assert_allclose(m.input, im, rtol=1e-6, atol=1e-6)
    np.testing.assert_allclose(m.output, om, rtol=1e-6, atol=1e-6)


def test_fasttext_quantized_seam(tmp_path, monkeypatch):
    """DQ_SPARK_FASTTEXT pointing at an .ftz drives the enrich kernel's
    langid exactly like a .bin (the lid.176.ftz user path)."""
    import numpy as np

    from data_quality_assessment_spark.functions import kernel
    from data_quality_assessment_spark.functions import model_loaders as mlm

    words = ["bonjour", "</s>"]
    labels = ["__label__fr", "__label__en"]
    im = np.array([[5.0, 1.0], [0.5, 1.0]], dtype=np.float32)
    om = np.array([[1.0, 0.25], [-1.0, 0.25]], dtype=np.float32)
    p = tmp_path / "lid.ftz"
    _write_ft_ftz(p, words, labels, im, om, dim=2, qnorm=True, qout=True)

    monkeypatch.setenv("DQ_SPARK_FASTTEXT", str(p))
    mlm._FT_SINGLETON = None
    out = kernel.enrich_batch([None], ["bonjour bonjour"])
    assert out["lang_pred"][0] == "fr"
    assert 0.5 < out["lang_conf"][0] <= 1.0
    monkeypatch.delenv("DQ_SPARK_FASTTEXT")
    mlm._FT_SINGLETON = None
    mlm._FT_SINGLETON_PATH = None


def test_fasttext_pruned_equals_unpruned_twin(tmp_path):
    """quantize -cutoff pruning: a pruned model whose pruneidx keeps
    every bucket id the test vocabulary actually hashes to must predict
    EXACTLY like its unpruned twin — the compact input rows are the
    same vectors, reached through the pruneidx remap."""
    import numpy as np

    rng = np.random.RandomState(42)
    words = ["alpha", "beta", "gamma"]
    labels = ["__label__x", "__label__y"]
    dim, bucket, minn, maxn = 4, 64, 2, 3
    nwords = len(words)
    full_input = rng.randn(nwords + bucket, dim).astype("<f4")
    output = rng.randn(len(labels), dim).astype("<f4")

    up = tmp_path / "unpruned.bin"
    _write_ft_bin(up, words, labels, full_input, output,
                  dim=dim, bucket=bucket, minn=minn, maxn=maxn)
    m_full = ml.load_fasttext(str(up))

    # bucket ids the vocab uses — EOS is OOV in this tiny dictionary,
    # so its subword hashes are part of every line and must be kept too
    used = sorted({
        h for w in words + [ml._FT_EOS]
        for h in ml._ft_subword_hashes(w, minn, maxn, bucket)
    })
    pruneidx = {h: j for j, h in enumerate(used)}
    pruned_input = np.vstack(
        [full_input[:nwords]] + [full_input[nwords + h] for h in used]
    ).astype("<f4")
    pp = tmp_path / "pruned.ftz"
    _write_ft_bin(pp, words, labels, pruned_input, output,
                  dim=dim, bucket=bucket, minn=minn, maxn=maxn,
                  pruneidx=pruneidx)
    m_pruned = ml.load_fasttext(str(pp))
    assert m_pruned.pruneidx == pruneidx

    for text in ("alpha beta", "gamma", "alpha beta gamma alpha"):
        a = m_full.predict(text, k=2)
        b = m_pruned.predict(text, k=2)
        assert a == b, (text, a, b)

    # a bucket id NOT in the map contributes nothing: an OOV token all
    # of whose subword hashes were pruned away leaves only EOS rows
    missing = next(h for h in range(bucket) if h not in pruneidx)
    assert m_pruned.pruneidx.get(missing) is None


def test_fasttext_pruned_oov_drops_missing_buckets(tmp_path):
    """An OOV token whose subword buckets were all pruned away must
    predict exactly like the empty-ish line (word rows only) — the
    pushHash drop path, not an IndexError into the compact matrix."""
    import numpy as np

    rng = np.random.RandomState(7)
    words = ["aa"]
    labels = ["__label__x", "__label__y"]
    dim, bucket = 3, 32
    inp = rng.randn(1 + 1, dim).astype("<f4")  # word row + ONE kept row
    output = rng.randn(2, dim).astype("<f4")
    keep = ml._ft_subword_hashes("aa", 2, 3, bucket)[0]
    p = tmp_path / "p.ftz"
    _write_ft_bin(p, words, labels, inp, output, dim=dim, bucket=bucket,
                  minn=2, maxn=3, pruneidx={keep: 0})
    m = ml.load_fasttext(str(p))
    # "zz..." hashes to buckets outside the map -> only EOS word row? no:
    # EOS is OOV here too (not in dictionary) and has no subwords, so
    # the line reduces to whatever in-dictionary rows remain
    rows, _ = m._line_rows("zzzzqqqq")
    assert all(r < 1 + 1 for r in rows)  # never past the compact matrix


def test_fasttext_hs_prediction_matches_hand_tree(tmp_path):
    """Hierarchical softmax (loss=1): 3 labels with counts (5,3,2)
    build the Huffman tree {root=4: [internal 3: [leaf2, leaf1], leaf0]}
    (Model::buildTree order); per-label probabilities are the sigmoid
    branch products, computed by hand here, and must sum to 1."""
    import numpy as np

    rng = np.random.RandomState(3)
    words = ["hello", "world"]
    labels = ["__label__a", "__label__b", "__label__c"]
    dim = 4
    inp = rng.randn(len(words), dim).astype("<f4")
    # hs output matrix: n_labels - 1 internal-node rows
    output = rng.randn(len(labels) - 1, dim).astype("<f4")
    p = tmp_path / "hs.bin"
    _write_ft_bin(p, words, labels, inp, output, dim=dim, loss=1,
                  label_counts=[5, 3, 2])
    m = ml.load_fasttext(str(p))

    got = dict(m.predict("hello world", k=3))
    # hand computation: hidden = mean(word rows); EOS is OOV (no row)
    hidden = inp[:2].mean(axis=0)
    s0 = 1 / (1 + np.exp(-float(output[0] @ hidden)))  # internal node 3
    s1 = 1 / (1 + np.exp(-float(output[1] @ hidden)))  # root node 4
    expect = {
        "__label__a": s1,                 # leaf0 is root's RIGHT child
        "__label__b": s0 * (1 - s1),      # right of node3, left of root
        "__label__c": (1 - s0) * (1 - s1),
    }
    assert got.keys() == expect.keys() or set(got) == set(expect)
    for k, v in expect.items():
        assert abs(got[k] - v) < 1e-6, (k, got[k], v)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_fasttext_hs_output_rows_validated(tmp_path):
    """An hs model whose output matrix is not (n_labels-1, dim) must be
    rejected loudly (a softmax-shaped matrix silently misindexes)."""
    import numpy as np

    rng = np.random.RandomState(4)
    p = tmp_path / "bad_hs.bin"
    _write_ft_bin(p, ["w"], ["__label__a", "__label__b", "__label__c"],
                  rng.randn(1, 3).astype("<f4"),
                  rng.randn(3, 3).astype("<f4"),  # 3 rows, hs needs 2
                  dim=3, loss=1)
    with pytest.raises(ValueError, match="hs output matrix"):
        ml.load_fasttext(str(p))


def test_fasttext_kernel_seam(tmp_path, monkeypatch):
    """DQ_SPARK_FASTTEXT set -> enrich kernel's lang_pred comes from the
    model; unset -> heuristic unchanged."""
    import numpy as np

    from data_quality_assessment_spark.functions import kernel
    from data_quality_assessment_spark.functions import model_loaders as mlm

    words = ["bonjour", "</s>"]
    labels = ["__label__fr", "__label__en"]
    im = np.zeros((2, 2), dtype=np.float32)
    im[0] = [5.0, 0.0]
    om = np.array([[1.0, 0.0], [-1.0, 0.0]], dtype=np.float32)
    p = tmp_path / "lid.bin"
    _write_ft_bin(p, words, labels, im, om, dim=2)

    monkeypatch.setenv("DQ_SPARK_FASTTEXT", str(p))
    mlm._FT_SINGLETON = None  # reset the worker singleton
    out = kernel.enrich_batch([None], ["bonjour bonjour"])
    assert out["lang_pred"][0] == "fr"
    assert 0.5 < out["lang_conf"][0] <= 1.0

    monkeypatch.delenv("DQ_SPARK_FASTTEXT")
    mlm._FT_SINGLETON = None
    mlm._FT_SINGLETON_PATH = None
    out2 = kernel.enrich_batch([None], ["the data and the page"])
    assert out2["lang_pred"][0] == "en"  # heuristic path restored
