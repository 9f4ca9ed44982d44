"""The fused per-document enrich kernel (pure Python/numpy/pyarrow, no Spark).

One pass per document computing EVERYTHING the quality DAG needs from the
text: extraction, language id, perplexity, repetition signals, PII scrub,
and the heuristic text statistics. Shared across:

  * ``udfs.enrich_udf`` — the single ArrowEvalPython node of the flagship
    pipeline (each Arrow batch -> ``enrich_batch_arrow``),
  * the pandas test oracle (same functions, same floats — byte-identical
    by construction).

One implementation, ``_enrich_from_arr``: the batch-vectorized kernel
(guide §4.2: hand whole Arrow batches to native code instead of looping
rows), pinned to the per-doc composition of ``textcore`` functions by
tests/test_kernel_parity.py. Tokenization, vocab-id lookup, script
counting, perplexity sums, bigram counting, dup-line counting and the
text stats all run as a handful of pyarrow.compute / numpy calls over
the WHOLE batch; only the cheap per-doc finishing arithmetic (branchy
lang decision, math.exp + round for bit-parity with libm) stays in a
Python loop. Token-level string work (lowercase, vocab lookup, lengths,
the non-ASCII fallback) runs over the batch's token DICTIONARY (unique
tokens) and is gathered back through the dictionary codes.

Two per-doc model hooks in the finishing loop serve the swapped-in real
models (``model_loaders``); every stage a model does not replace keeps
its batch form:
  * a fastText langid (``DQ_SPARK_FASTTEXT``) gives ``lang_pred`` /
    ``lang_conf`` through ``ft.predict_lang(txt)``;
  * an LM without the id API (``ArpaLM``, ``DQ_SPARK_LM_ARPA``) gives
    ``ppl`` through ``model.perplexity(txt)``, and ``_lp_sums`` is
    skipped.
While a hook is active every row's text is materialized; otherwise only
the rows the scrub gate or the dup-line rule hand to ``textcore``.

``scrubbed_text`` is NULL when no scrub rule fired: scrubbed text ==
extracted text exactly when every rule count is 0 (a subn with n>0
always changes the text). On clean web text this shrinks the dominant
Arrow output column to near zero; consumers needing the bytes coalesce
via ``plans.pipeline.materialize_scrubbed`` (native extraction twin).

Bit-exactness of the vector kernel rests on verified equivalences:
  * pyarrow ``ascii_split_whitespace`` splits on exactly the pinned
    ``[ \\t\\n\\r\\f\\x0B]`` class (empties filtered on both sides);
  * ``ascii_lower`` == ``str.lower`` for ASCII tokens; non-ASCII tokens
    (rare, deduped via the dictionary) are re-resolved per token with
    ``str.lower`` so exotic case mappings (e.g. U+212A KELVIN SIGN ->
    'k') keep exact parity;
  * the LM's log-probs are quantized to multiples of 2^-20 (lm.py), so
    per-doc sums are EXACT under any summation order — ``np.bincount``
    grouping gives bit-identical totals to the sequential loop;
  * ratio columns are single IEEE divisions of exactly-representable
    integers — identical element-wise in numpy and Python;
  * the dup-line batch path (Arrow trim == ``str.strip``) applies only
    to ASCII docs without U+001C..U+001F (Python ``isspace`` is true for
    those, Unicode White_Space is not); other docs take
    ``textcore.dup_line_frac``;
  * the scrub gate regex is ASCII-case-exact and only ever WIDENS the
    set of rows handed to the real ``scrub_text`` (non-ASCII rows are
    always handed over), so gated-out rows are provably untouched;
  * ``math.exp`` / Python ``round`` stay per-doc (numpy's vectorized
    transcendentals may differ from libm by an ULP, which the round-to-6
    could amplify into an oracle mismatch).
"""

from __future__ import annotations

import math

from . import textcore
from .lm import get_model

ENRICH_COLS = (
    "lang_pred", "lang_conf", "ppl", "top_bigram_share",
    "scrubbed_text", "pii_email", "pii_ip", "pii_phone", "toxicity_slur",
    "nw", "mean_wl", "symbol_ratio", "stopword_frac", "dup_line_frac",
)


def enrich_batch(htmls, texts) -> dict[str, list]:
    """Columnar enrich over parallel sequences of (html, text): a list
    view of ``enrich_batch_arrow`` (same output).

    Extraction precedence: html when present, else the text column.
    Returns {column: list} in ENRICH_COLS order, ready for
    ``pd.DataFrame`` without a row->column transpose.
    """
    import pyarrow as pa

    st = enrich_batch_arrow(
        pa.array(htmls, type=pa.binary()), pa.array(texts, type=pa.string())
    )
    return {k: st.field(k).to_pylist() for k in ENRICH_COLS}


# ---------------------------------------------------------------------------
# vectorized kernel
# ---------------------------------------------------------------------------

_VEC = None  # lazy per-process constants (built on first batch)


def _vector_consts():
    """Precomputed tables for the kernel (per-process, built once).

    * gate_re: ASCII-case-exact combined scrub-gate regex — any '@',
      any ASCII digit, or any slur spelled with per-character case
      classes (RE2 ``(?i)`` would apply Unicode folding, which is NOT
      what ``str.lower``-gating does; the explicit classes are).
    """
    import pyarrow as pa

    gate_re = "[@0-9]|" + "|".join(
        "".join(f"[{c}{c.upper()}]" for c in s)
        for s in textcore.SLUR_LEXICON
    )
    return {
        "gate_re": gate_re,
        "vocab": pa.array(textcore.VOCAB, type=pa.string()),
    }


def _script_counts_bytes(arr):
    """Per-doc script counts straight off the Arrow UTF-8 data buffer —
    no utf-32 expansion, no per-char doc-id array (the former script
    pass was the kernel's largest memory-traffic term at 32 workers).

    Valid UTF-8 makes each range detectable from lead bytes alone:
      * latin  A-Z / a-z: single bytes 0x41-5A / 0x61-7A;
      * cyrillic U+0400-04FF: 2-byte lead 0xD0-0xD3 (64-char aligned);
      * CJK U+4E00-9FFF: lead 0xE4 with 2nd byte >= 0xB8, or leads
        0xE5-0xE9; kana U+3040-30FF: lead 0xE3, 2nd byte 0x81-0x83;
      * devanagari U+0900-097F: lead 0xE0, 2nd byte 0xA4-0xA5.
    Continuation bytes (0x80-BF) and 4-byte leads (0xF0+) match no
    mask, so every count equals the codepoint count in the range
    (pinned vs the searchsorted reference by the kernel parity tests).
    Returns (latin, cyr, cjk, deva) int64 arrays.
    """
    import numpy as np

    n = len(arr)
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int32, count=n + 1,
                            offset=arr.offset * 4).astype(np.int64)
    b = np.frombuffer(bufs[2], dtype=np.uint8)[
        offsets[0]:offsets[-1]
    ]
    offs = offsets - offsets[0]
    nb = len(b)

    def per_doc(mask):
        # int32: byte counts per batch stay far under 2^31, and the
        # cumsum is the pass's main memory-traffic term at 32 workers
        cs = np.concatenate(
            ([np.int32(0)], np.cumsum(mask, dtype=np.int32))
        )
        return (cs[offs[1:]] - cs[offs[:-1]]).astype(np.int64)

    latin = per_doc(((b >= 0x41) & (b <= 0x5A)) | ((b >= 0x61) & (b <= 0x7A)))
    cyr = per_doc((b >= 0xD0) & (b <= 0xD3))
    if nb >= 2:
        b1 = b[:-1]
        b2 = b[1:]
        pad = np.zeros(1, dtype=bool)
        cjk_pair = ((b1 == 0xE4) & (b2 >= 0xB8)) | (
            (b1 == 0xE3) & (b2 >= 0x81) & (b2 <= 0x83)
        )
        deva_pair = (b1 == 0xE0) & (b2 >= 0xA4) & (b2 <= 0xA5)
        cjk = per_doc(
            np.concatenate((cjk_pair, pad)) | ((b >= 0xE5) & (b <= 0xE9))
        )
        deva = per_doc(np.concatenate((deva_pair, pad)))
    else:
        cjk = np.zeros(n, dtype=np.int64)
        deva = np.zeros(n, dtype=np.int64)
    return latin, cyr, cjk, deva


def _tokenize_ids(arr, C):
    """Shared token machinery over an Arrow string array: returns
    (par, nw, ids, codes, dvals, dlen, total_toks) — parent doc index
    per kept token, tokens per doc, vocab ids (exact, with the
    per-unique-token non-ASCII str.lower fallback), dictionary codes,
    the dictionary values, and per-unique-token lengths."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(arr)
    tok_list = pc.ascii_split_whitespace(arr)
    parents = pc.list_parent_indices(tok_list).to_numpy()
    flat = pc.list_flatten(tok_list)
    keep = pc.not_equal(flat, "")
    flat = flat.filter(keep)
    par = parents[keep.to_numpy(zero_copy_only=False)]
    nw = np.bincount(par, minlength=n).astype(np.int64)

    denc = pc.dictionary_encode(flat)
    codes = denc.indices.to_numpy().astype(np.int64)
    dvals = denc.dictionary
    dlow = pc.ascii_lower(dvals)
    didx = pc.index_in(dlow, value_set=C["vocab"])
    dids = didx.to_numpy(zero_copy_only=False)  # float64 + NaN for OOV
    unk = textcore.VOCAB_UNK
    dids = np.where(np.isnan(dids), float(unk), dids).astype(np.int64)
    dascii = pc.string_is_ascii(dvals).to_numpy(zero_copy_only=False)
    if not dascii.all():
        # exact parity for exotic case mappings: redo with str.lower,
        # once per UNIQUE non-ASCII token
        vget = textcore.VOCAB_INDEX.get
        bad = np.flatnonzero(~dascii)
        vals_bad = dvals.take(pa.array(bad)).to_pylist()
        dids[bad] = [vget(t.lower(), unk) for t in vals_bad]
    dlen = pc.utf8_length(dvals).to_numpy(zero_copy_only=False).astype(
        np.int64
    )
    return par, nw, dids[codes], codes, dvals, dlen, len(flat)


def _lp_sums(par, nw, ids, model, n):
    """Per-doc quantized log-prob sums (exact under any order)."""
    import numpy as np

    lp = np.zeros(n)
    unk = textcore.VOCAB_UNK
    if len(ids) > 1:
        pair_ok = par[1:] == par[:-1]
        prev = ids[:-1][pair_ok]
        cur = ids[1:][pair_ok]
        pair_doc = par[1:][pair_ok]
        unk_cur = cur == unk
        unk_prev = prev == unk
        cur_c = np.where(unk_cur, 0, cur)
        prev_c = np.where(unk_prev, 0, prev)
        terms = np.where(
            unk_cur,
            model.logp_unk,
            np.where(unk_prev, model.logp_uni[cur_c],
                     model.logp_bi[prev_c, cur_c]),
        )
        lp = np.bincount(pair_doc, weights=terms, minlength=n)
    return lp


def ppl_batch(texts, model=None) -> list[float]:
    """Vectorized perplexity over a sequence of (possibly null) texts —
    bit-identical to ``model.perplexity(txt, tokenize(txt))`` per doc
    (non-strings score as empty text, matching the enrich kernel's
    null-text rows). Used by ``udfs.ppl_udf`` so perplexity-only
    queries skip the rest of the enrich kernel."""
    import pyarrow as pa

    if model is None:
        model = get_model()
    txts = [t if isinstance(t, str) else "" for t in texts]
    n = len(txts)
    if not hasattr(model, "perplexity_ids"):  # ArpaLM: per-doc hook
        return [model.perplexity(t) for t in txts]
    global _VEC
    if _VEC is None:
        _VEC = _vector_consts()
    arr = pa.array(txts, type=pa.string())
    par, nw, ids, _codes, _dvals, _dlen, _tt = _tokenize_ids(arr, _VEC)
    lp = _lp_sums(par, nw, ids, model, n)
    nw_l = nw.tolist()
    lp_l = lp.tolist()
    exp = math.exp
    return [
        1.0 if nw_l[i] < 2
        else float(round(exp(-lp_l[i] / (nw_l[i] - 1)), 6))
        for i in range(n)
    ]


def _extract_arr(html_arr, text_arr):
    """Vectorized extraction: cast html binary -> string (validates
    UTF-8), strip tags with RE2 (``<[^>]*>`` — byte-equivalent to the
    Python pattern), fall back to text-or-empty per row. An invalid
    byte sequence anywhere sends the whole batch through the per-row
    ``textcore.extract_text`` (its errors='replace' semantics)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    text = pc.coalesce(
        text_arr.cast(pa.string()) if text_arr.type != pa.string()
        else text_arr,
        pa.scalar("", type=pa.string()),
    )
    if html_arr.null_count == len(html_arr):
        return text
    try:
        html_str = html_arr.cast(pa.string())
    except pa.ArrowInvalid:
        extract = textcore.extract_text
        return pa.array([
            extract(b) if b is not None else t
            for b, t in zip(html_arr.to_pylist(), text.to_pylist())
        ], type=pa.string())
    stripped = pc.replace_substring_regex(
        html_str, pattern="<[^>]*>", replacement=""
    )
    return pc.if_else(pc.is_valid(html_arr), stripped, text)


def enrich_batch_arrow(html_arr, text_arr):
    """Arrow-native enrich: (binary html array, string text array) ->
    pa.StructArray in ENRICH_COLS order — the ``arrow_udf`` entry (no
    pandas on either side of the boundary). Batches of every size and
    every model take the one kernel; html with invalid UTF-8 bytes
    takes its per-row ``extract_text`` extraction."""
    from .model_loaders import get_fasttext

    arr = _extract_arr(html_arr, text_arr)
    return _cols_to_struct(_enrich_from_arr(arr, get_model(), get_fasttext()))


def _cols_to_struct(cols):
    import pyarrow as pa

    types = {
        "lang_pred": pa.string(), "lang_conf": pa.float64(),
        "ppl": pa.float64(), "top_bigram_share": pa.float64(),
        "scrubbed_text": pa.string(), "pii_email": pa.int32(),
        "pii_ip": pa.int32(), "pii_phone": pa.int32(),
        "toxicity_slur": pa.int32(), "nw": pa.int64(),
        "mean_wl": pa.float64(), "symbol_ratio": pa.float64(),
        "stopword_frac": pa.float64(), "dup_line_frac": pa.float64(),
    }
    return pa.StructArray.from_arrays(
        [pa.array(cols[k], type=types[k]) for k in ENRICH_COLS],
        names=list(ENRICH_COLS),
    )


def _enrich_from_arr(arr, model, ft) -> dict[str, list]:
    """The kernel body over an extracted-text Arrow array. With the
    shipped models, per-row Python strings are materialized ONLY for
    rows the scrub gate or the dup-line eligibility mask route to the
    ``textcore`` helpers (the ``not txt`` lang special case is
    equivalent to the letters==0 branch — empty text has no letters —
    so the loop needs no text); a fastText ``ft`` or an LM without
    ``perplexity_ids`` is called per doc (module docstring)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    global _VEC
    if _VEC is None:
        _VEC = _vector_consts()
    C = _VEC

    n = len(arr)

    # --- tokenize + vocab ids on the token DICTIONARY (shared helper) --
    par, nw, ids, codes, dvals, dlen, total_toks = _tokenize_ids(arr, C)
    unk = textcore.VOCAB_UNK
    tok_len = dlen[codes]

    # --- per-doc token aggregates (exact: integer-valued float64 sums) -
    wl_sum = np.bincount(par, weights=tok_len, minlength=n)
    sw_cnt = np.bincount(par, weights=ids < textcore.N_STOPWORDS,
                         minlength=n)
    iv_cnt = np.bincount(par, weights=ids != unk, minlength=n)
    sym_cnt = pc.count_substring_regex(
        arr, textcore.SYMBOL_CLASS
    ).to_numpy(zero_copy_only=False)

    nz = nw > 0
    nwf = nw.astype(np.float64)
    mean_wl = np.divide(wl_sum, nwf, out=np.zeros(n), where=nz)
    symbol_ratio = np.divide(
        sym_cnt.astype(np.float64), nwf, out=np.zeros(n), where=nz
    )
    stopword_frac = np.divide(sw_cnt, nwf, out=np.zeros(n), where=nz)

    # --- perplexity: batched quantized-logprob sums (exact any-order) --
    # an LM without the id API scores per doc in the finishing loop
    use_ids = hasattr(model, "perplexity_ids")
    lp_l = _lp_sums(par, nw, ids, model, n).tolist() if use_ids else None
    top_bigram = np.zeros(n)
    if total_toks > 1:
        pair_ok = par[1:] == par[:-1]
        pair_doc = par[1:][pair_ok]

        # --- top bigram share: packed (doc, prev, cur) run counting ----
        if n < (1 << 21) and len(dvals) < (1 << 21):
            key = (
                (pair_doc << 42)
                | (codes[:-1][pair_ok] << 21)
                | codes[1:][pair_ok]
            )
            if len(key):
                ks = np.sort(key)
                runs = np.flatnonzero(ks[1:] != ks[:-1])
                starts = np.concatenate(([0], runs + 1))
                counts = np.diff(np.concatenate((starts, [len(ks)])))
                udoc = (ks[starts] >> 42).astype(np.int64)
                dch = np.flatnonzero(udoc[1:] != udoc[:-1])
                gstarts = np.concatenate(([0], dch + 1))
                best = np.maximum.reduceat(counts, gstarts)
                docs_here = udoc[gstarts]
                top_bigram[docs_here] = best / (nw[docs_here] - 1)
        else:  # pathological batch: per-doc exact fallback
            offs = np.concatenate(([0], np.cumsum(nw)))
            toks_all = dvals.take(pa.array(codes)).to_pylist()
            for i in range(n):
                top_bigram[i] = textcore.top_bigram_share(
                    "", toks_all[offs[i]:offs[i + 1]]
                )

    # --- script counts: byte-level masks over the Arrow data buffer ----
    latin_a, cyr_a, cjk_a, deva_a = _script_counts_bytes(arr)
    latin_l = latin_a.tolist()
    cyr_l = cyr_a.tolist()
    cjk_l = cjk_a.tolist()
    deva_l = deva_a.tolist()

    # --- scrub gate: one ASCII-case-exact RE2 pass + ascii mask --------
    doc_ascii = pc.string_is_ascii(arr).to_numpy(zero_copy_only=False)
    gate = pc.match_substring_regex(
        arr, C["gate_re"]
    ).to_numpy(zero_copy_only=False)
    need_scrub = (np.logical_or(~doc_ascii, gate)).tolist()

    # --- dup_line_frac: Arrow split/trim/dedup for eligible docs -------
    # eligible = ASCII without U+001C..1F (str.strip parity — docstring)
    has_ctl = pc.match_substring_regex(
        arr, "[\\x1c-\\x1f]"
    ).to_numpy(zero_copy_only=False)
    dl_eligible = np.logical_and(doc_ascii, ~has_ctl)
    line_list = pc.split_pattern(arr, "\n")
    lpar = pc.list_parent_indices(line_list).to_numpy()
    lflat = pc.list_flatten(line_list)
    ltrim = pc.utf8_trim_whitespace(lflat)
    lkeep = pc.not_equal(ltrim, "")
    ltrim = ltrim.filter(lkeep)
    lpar2 = lpar[lkeep.to_numpy(zero_copy_only=False)]
    line_cnt = np.bincount(lpar2, minlength=n)
    ldenc = pc.dictionary_encode(ltrim)
    lcodes = ldenc.indices.to_numpy().astype(np.int64)
    # int32 dictionary codes: the packed (doc, line) key cannot collide
    lkey = np.unique((lpar2 << 40) | lcodes)
    uniq_cnt = np.bincount(lkey >> 40, minlength=n)
    with np.errstate(invalid="ignore", divide="ignore"):
        ratio = 1.0 - np.divide(
            uniq_cnt.astype(np.float64), line_cnt,
            out=np.ones(n), where=line_cnt > 0,
        )
    dl_eligible_l = dl_eligible.tolist()
    dup_line_l = np.where(line_cnt > 0, ratio, 0.0).tolist()

    # --- per-row text: every row while a model hook is active, else
    # only the rows the textcore scrub / dup-line helpers read ---------
    if ft is not None or not use_ids:
        txt_by_i = arr.to_pylist()
    else:
        sel = np.flatnonzero(
            np.asarray(need_scrub, dtype=bool) | ~dl_eligible
        )
        txt_by_i = (
            dict(zip(sel.tolist(), arr.take(pa.array(sel)).to_pylist()))
            if len(sel) else {}
        )

    # --- per-doc finishing loop (cheap scalar arithmetic only) ---------
    nw_l = nw.tolist()
    sw_l = sw_cnt.tolist()
    iv_l = iv_cnt.tolist()

    lang_pred: list = []
    lang_conf: list = []
    ppl: list = []
    scrubbed_text: list = []
    pii_email: list = []
    pii_ip: list = []
    pii_phone: list = []
    toxicity_slur: list = []
    dup_line: list = []
    ap_lang = lang_pred.append
    ap_conf = lang_conf.append
    ap_ppl = ppl.append
    ap_scr = scrubbed_text.append
    ap_e = pii_email.append
    ap_i = pii_ip.append
    ap_p = pii_phone.append
    ap_s = toxicity_slur.append
    ap_d = dup_line.append

    scrub = textcore.scrub_text
    dlf = textcore.dup_line_frac
    exp = math.exp
    for i in range(n):
        nw_i = nw_l[i]
        # language decision (identical outputs to lang_id: its
        # empty-text early return equals the letters==0 branch)
        latin = latin_l[i]
        ccyr = cyr_l[i]
        ccjk = cjk_l[i]
        cdeva = deva_l[i]
        letters = latin + ccyr + ccjk + cdeva
        if ft is not None:  # fastText langid hook
            lang, conf = ft.predict_lang(txt_by_i[i])
            ap_lang(lang)
            ap_conf(conf)
        elif letters == 0:
            ap_lang("unk")
            ap_conf(0.0)
        else:
            bc, bk = max(
                (ccyr, "xx_cyr"), (ccjk, "xx_cjk"), (cdeva, "xx_deva")
            )
            frac = bc / letters
            if frac >= 0.30:
                ap_lang(bk)
                ap_conf(round(frac, 6))
            elif latin / letters >= 0.50:
                if nw_i:
                    sf = int(sw_l[i]) / nw_i
                    iv = int(iv_l[i]) / nw_i
                else:
                    sf = iv = 0.0
                conf = min(1.0, 0.6 * iv + 1.5 * sf + 0.05)
                ap_lang("en" if conf >= 0.20 else "unk")
                ap_conf(round(conf, 6))
            else:
                ap_lang("unk")
                ap_conf(round(latin / letters, 6))
        # perplexity finishing (math.exp + round per doc for bit parity)
        if lp_l is None:  # LM hook (no id API)
            ap_ppl(model.perplexity(txt_by_i[i]))
        elif nw_i < 2:
            ap_ppl(1.0)
        else:
            ap_ppl(float(round(exp(-lp_l[i] / (nw_i - 1)), 6)))
        # scrub (gated; cleared rows are provably untouched)
        if need_scrub[i]:
            out_txt, c = scrub(txt_by_i[i])
            e, p_ip, ph, sl = (c["pii_email"], c["pii_ip"],
                               c["pii_phone"], c["toxicity_slur"])
            ap_scr(out_txt if (e or p_ip or ph or sl) else None)
            ap_e(e)
            ap_i(p_ip)
            ap_p(ph)
            ap_s(sl)
        else:
            ap_scr(None)
            ap_e(0)
            ap_i(0)
            ap_p(0)
            ap_s(0)
        ap_d(dup_line_l[i] if dl_eligible_l[i] else dlf(txt_by_i[i]))

    return {
        "lang_pred": lang_pred,
        "lang_conf": lang_conf,
        "ppl": ppl,
        "top_bigram_share": top_bigram,
        "scrubbed_text": scrubbed_text,
        "pii_email": pii_email,
        "pii_ip": pii_ip,
        "pii_phone": pii_phone,
        "toxicity_slur": toxicity_slur,
        "nw": nw,
        "mean_wl": mean_wl,
        "symbol_ratio": symbol_ratio,
        "stopword_frac": stopword_frac,
        "dup_line_frac": dup_line,
    }
