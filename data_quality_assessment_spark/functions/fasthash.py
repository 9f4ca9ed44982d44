"""Vectorized XXH64 (seed 42) — bit-identical to Spark's ``xxhash64``.

Spark's ``XxHash64`` expression is the standard XXH64 algorithm (Cyan4973,
public spec) with seed 42 applied to the UTF-8 bytes of a string. The
fast minhash/simhash paths hash one string per shingle/word through it;
as Catalyst higher-order functions those passes are CodegenFallback —
interpreted per element — which dominates their runtime. This module
reproduces the exact same 64-bit values with numpy over whole Arrow
string arrays: strings are grouped by byte length, each group packed
into an (m, L) uint8 matrix, and the XXH64 rounds run vectorized on
uint64 lanes (wrapping arithmetic == C semantics). Parity with
``F.xxhash64`` is pinned by tests/test_fasthash.py over adversarial
lengths (0..200 bytes, all chunk-boundary cases) and unicode.
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_SEED = np.uint64(42)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _u64le(mat: np.ndarray, off: int) -> np.ndarray:
    """Little-endian uint64 read at byte offset ``off`` of each row."""
    return mat[:, off:off + 8].copy().view("<u8").ravel()


def _u32le(mat: np.ndarray, off: int) -> np.ndarray:
    return mat[:, off:off + 4].copy().view("<u4").ravel().astype(np.uint64)


def _xxh64_fixed(mat: np.ndarray) -> np.ndarray:
    """XXH64(seed 42) of m same-length byte rows (mat: m x L uint8)."""
    m, length = mat.shape
    n64 = np.uint64
    if length >= 32:
        v1 = np.full(m, _SEED + _P1 + _P2, dtype=np.uint64)
        v2 = np.full(m, _SEED + _P2, dtype=np.uint64)
        v3 = np.full(m, _SEED, dtype=np.uint64)
        v4 = np.full(m, _SEED - _P1, dtype=np.uint64)
        off = 0
        while off + 32 <= length:
            v1 = _rotl(v1 + _u64le(mat, off) * _P2, 31) * _P1
            v2 = _rotl(v2 + _u64le(mat, off + 8) * _P2, 31) * _P1
            v3 = _rotl(v3 + _u64le(mat, off + 16) * _P2, 31) * _P1
            v4 = _rotl(v4 + _u64le(mat, off + 24) * _P2, 31) * _P1
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18))
        for v in (v1, v2, v3, v4):
            h = (h ^ (_rotl(v * _P2, 31) * _P1)) * _P1 + _P4
    else:
        h = np.full(m, _SEED + _P5, dtype=np.uint64)
        off = 0
    h = h + n64(length)
    while off + 8 <= length:
        h = _rotl(h ^ (_rotl(_u64le(mat, off) * _P2, 31) * _P1), 27) * _P1 + _P4
        off += 8
    if off + 4 <= length:
        h = _rotl(h ^ (_u32le(mat, off) * _P1), 23) * _P2 + _P3
        off += 4
    while off < length:
        h = _rotl(h ^ (mat[:, off].astype(np.uint64) * _P5), 11) * _P1
        off += 1
    h ^= h >> n64(33)
    h *= _P2
    h ^= h >> n64(29)
    h *= _P3
    h ^= h >> n64(32)
    return h


def xxh64_arrow(arr) -> np.ndarray:
    """Signed int64 XXH64(seed 42) per element of an Arrow StringArray —
    identical to ``F.xxhash64(col)``. Groups by byte length so each
    group runs fully vectorized."""
    import pyarrow as pa  # noqa: F401

    n = len(arr)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.int64)
    bufs = arr.buffers()
    # StringArray buffers: [validity, offsets(int32), data]
    offsets = np.frombuffer(bufs[1], dtype=np.int32,
                            count=n + 1, offset=arr.offset * 4)
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    starts = offsets[:-1].astype(np.int64)
    lens = np.diff(offsets).astype(np.int64)
    for length in np.unique(lens):
        idx = np.flatnonzero(lens == length)
        if length == 0:
            out[idx] = _xxh64_fixed(np.empty((len(idx), 0), dtype=np.uint8))
            continue
        gather = starts[idx][:, None] + np.arange(length, dtype=np.int64)
        out[idx] = _xxh64_fixed(data[gather])
    return out.view(np.int64)


# ---------------------------------------------------------------------------
# vectorized fast-path signatures (minhash / simhash) — bit-identical
# twins of Spark's xxhash64 HOF expression chains (kept verbatim in
# tests/test_fasthash.py as the reference)
# ---------------------------------------------------------------------------

# p = 2^31-1 keeps a*h < 2^62, so the Spark chain cannot overflow in ANSI mode
_P31 = (1 << 31) - 1


def _tokens(texts):
    """(par, nw, flat, offsets) under the pinned whitespace contract
    (identical to textstats.words: split on the class, drop empties)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    txts = [t if isinstance(t, str) else "" for t in texts]
    arr = pa.array(txts, type=pa.string())
    tok_list = pc.ascii_split_whitespace(arr)
    parents = pc.list_parent_indices(tok_list).to_numpy()
    flat = pc.list_flatten(tok_list)
    keep = pc.not_equal(flat, "")
    flat = flat.filter(keep)
    par = parents[keep.to_numpy(zero_copy_only=False)]
    nw = np.bincount(par, minlength=len(txts)).astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(nw)))
    return par, nw, flat, offsets


def minhash_sigs_batch(texts, n_hashes: int, uh_params) -> np.ndarray:
    """(n_docs, n_hashes) int64 minhash signatures — exactly
    ``with_minhash_signature(..., fast=True)``: word 3-shingles (whole
    doc joined when < 3 words), base = pmod(xxhash64(shingle), P31),
    sig_i = min over shingles of pmod(base * a_i + b_i, P31)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    par, nw, flat, offsets = _tokens(texts)
    n = len(nw)
    sig = np.empty((n, n_hashes), dtype=np.int64)

    # 3-shingles for docs with >= 3 words (token stream is doc-ordered)
    if len(flat) >= 3:
        j3 = pc.binary_join_element_wise(
            flat.slice(0, len(flat) - 2),
            flat.slice(1, len(flat) - 2),
            flat.slice(2, len(flat) - 2),
            " ",
        )
        m3 = (par[:-2] == par[1:-1]) & (par[1:-1] == par[2:])
        sh_doc = par[:-2][m3]
        shingles = j3.filter(pa.array(m3))
        base = xxh64_arrow(shingles) % _P31
        if len(sh_doc):
            gstarts = np.concatenate(
                ([0], np.flatnonzero(sh_doc[1:] != sh_doc[:-1]) + 1)
            )
            docs3 = sh_doc[gstarts]
            for i in range(n_hashes):
                a, b = uh_params(i)
                sig[docs3, i] = np.minimum.reduceat(
                    (base * a + b) % _P31, gstarts
                )
    # fallback: whole-doc join for docs with < 3 words (single shingle)
    small = np.flatnonzero(nw < 3)
    if len(small):
        la = pa.ListArray.from_arrays(
            pa.array(offsets, type=pa.int64()), flat
        )
        joined_all = pc.binary_join(la, " ")
        sm = joined_all.take(pa.array(small))
        base_s = xxh64_arrow(sm) % _P31
        for i in range(n_hashes):
            a, b = uh_params(i)
            sig[small, i] = (base_s * a + b) % _P31
    return sig


def simhash_batch(texts, bits: int) -> np.ndarray:
    """int64 simhash per doc — exactly ``with_simhash(..., fast=True)``:
    one xxhash64 per word, per-bit +/-1 votes, bit set when vote > 0
    (0-word docs hash to 0, like the empty-array aggregate)."""
    par, nw, flat, _offsets = _tokens(texts)
    n = len(nw)
    h = xxh64_arrow(flat)
    acc = np.zeros(n, dtype=np.int64)
    for j in range(bits):
        votes = np.bincount(
            par, weights=((h >> j) & 1) * 2 - 1, minlength=n
        )
        acc += np.where(votes > 0, np.int64(1) << j, 0)
    return acc
