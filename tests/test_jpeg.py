"""Baseline JPEG decoder tests: a minimal spec-layout JPEG WRITER
(canonical Huffman, byte stuffing, restart markers) drives round-trips
whose expected pixels are derived by an INDEPENDENT explicit-cosine
IDCT in the test — not the decoder's basis matrix."""

from __future__ import annotations

import math
import struct

import numpy as np

from data_quality_assessment_spark.functions import jpeg as J
from data_quality_assessment_spark.functions import multimodal as mm


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def _tables(symbols):
    """All symbols at code length 8 (canonical: codes 0..n-1)."""
    counts = [0] * 16
    counts[7] = len(symbols)
    enc = {s: (8, i) for i, s in enumerate(symbols)}
    return counts, list(symbols), enc


DC_SYMS = list(range(12))
AC_SYMS = sorted({(r << 4) | s for r in range(16) for s in range(11)} | {0x00})


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, val, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def align(self):
        while self.n:
            self.put(1, 1)  # pad with 1-bits (spec)

    def raw_marker(self, m):
        self.align()
        self.out += bytes([0xFF, m])


def _cat(v):
    return v.bit_length() if v > 0 else (-v).bit_length()


def _emit_block(bw, zz, pred, dc_enc, ac_enc):
    diff = int(zz[0]) - pred
    t = _cat(diff)
    ln, code = dc_enc[t]
    bw.put(code, ln)
    if t:
        bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
    k = 1
    while k < 64:
        run = 0
        while k < 64 and zz[k] == 0:
            run += 1
            k += 1
        if k == 64:
            ln, code = ac_enc[0x00]  # EOB
            bw.put(code, ln)
            break
        while run >= 16:
            ln, code = ac_enc[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        v = int(zz[k])
        s = _cat(v)
        ln, code = ac_enc[(run << 4) | s]
        bw.put(code, ln)
        bw.put(v if v >= 0 else v + (1 << s) - 1, s)
        k += 1
    return int(zz[0])


def encode_jpeg(h, w, comps, qts, blocks, dri=0):
    """comps: [{'id','h','v','tq'}]; qts: {tid: 64 ints natural order};
    blocks[ci]: {(brow, bcol): 8x8 int array (quantized, natural)}."""
    out = bytearray(b"\xff\xd8")
    for tid, q in qts.items():
        q = np.asarray(q).reshape(64)
        zzq = q[J.ZIGZAG]  # DQT ships zig-zag order
        out += b"\xff\xdb" + struct.pack(">H", 2 + 65)
        out += bytes([tid]) + bytes(int(x) for x in zzq)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * len(comps), 8, h, w,
                                     len(comps))
    for c in comps:
        out += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
    dc_counts, dc_syms, dc_enc = _tables(DC_SYMS)
    ac_counts, ac_syms, ac_enc = _tables(AC_SYMS)
    for cls, (counts, syms) in ((0, (dc_counts, dc_syms)),
                                (1, (ac_counts, ac_syms))):
        out += b"\xff\xc4" + struct.pack(">H", 2 + 17 + len(syms))
        out += bytes([cls << 4]) + bytes(counts) + bytes(syms)
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps), len(comps))
    for c in comps:
        out += bytes([c["id"], 0x00])  # DC table 0, AC table 0
    out += b"\x00\x3f\x00"  # Ss/Se/AhAl
    bw = _BitWriter()
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    preds = [0] * len(comps)
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if dri and mcu_count and mcu_count % dri == 0:
                bw.raw_marker(0xD0 + (rst % 8))
                rst += 1
                preds = [0] * len(comps)
            for ci, c in enumerate(comps):
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        blk = blocks[ci][(my * c["v"] + by,
                                          mx * c["h"] + bx)]
                        zz = np.asarray(blk).reshape(64)[J.ZIGZAG]
                        preds[ci] = _emit_block(bw, zz, preds[ci],
                                                dc_enc, ac_enc)
            mcu_count += 1
    bw.align()
    out += bw.out + b"\xff\xd9"
    return bytes(out)


def _ref_idct(coeffs):
    """Independent explicit-cosine IDCT (T.81 A.3.3), no shared code."""
    out = np.zeros((8, 8))
    for y in range(8):  # y = sample row, pairs the VERTICAL frequency u
        for x in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (cu * cv * coeffs[u][v]
                          * math.cos((2 * y + 1) * u * math.pi / 16)
                          * math.cos((2 * x + 1) * v * math.pi / 16))
            out[y, x] = s / 4.0
    return out


# NOTE on orientation: coeffs[u][v] with u the vertical frequency —
# _ref_idct(coeffs)[row, col] must match the decoder's A.T @ F @ A.


def test_idct_basis_agreement():
    rng = np.random.RandomState(0)
    f = rng.randint(-50, 50, (8, 8)).astype(np.float64)
    np.testing.assert_allclose(J.idct_block(f), _ref_idct(f), atol=1e-9)


def test_jpeg_gray_dc_only():
    """Uniform 8x8: DC=8, quant 1 -> every sample 8/8=1 -> 129."""
    blk = np.zeros((8, 8), np.int64)
    blk[0, 0] = 8
    blob = encode_jpeg(8, 8, [{"id": 1, "h": 1, "v": 1, "tq": 0}],
                       {0: np.ones(64, np.int64)}, [{(0, 0): blk}])
    got = J.jpeg_pixels(blob)
    assert got.shape == (8, 8, 3)
    assert (got == 129).all()


def test_jpeg_gray_dc_prediction_chain():
    """Two MCUs with different DCs: the second block's DC is DIFF-coded
    against the first (negative diff exercises sign extension)."""
    b1 = np.zeros((8, 8), np.int64)
    b1[0, 0] = 40
    b2 = np.zeros((8, 8), np.int64)
    b2[0, 0] = -24
    blob = encode_jpeg(8, 16, [{"id": 1, "h": 1, "v": 1, "tq": 0}],
                       {0: np.ones(64, np.int64)},
                       [{(0, 0): b1, (0, 1): b2}])
    got = J.jpeg_pixels(blob)
    assert (got[:, :8] == np.clip(round(40 / 8) + 128, 0, 255)).all()
    assert (got[:, 8:] == np.clip(round(-24 / 8) + 128, 0, 255)).all()


def test_jpeg_ac_pattern_roundtrip():
    """Random quantized blocks with a non-trivial quant table: decoder
    output equals the independent IDCT pipeline within rounding."""
    rng = np.random.RandomState(7)
    qt = rng.randint(1, 9, 64).astype(np.int64)
    grid = {}
    expect = np.zeros((16, 16))
    for br in range(2):
        for bc in range(2):
            blk = np.zeros((8, 8), np.int64)
            blk[0, 0] = rng.randint(-60, 60)
            for _ in range(6):
                blk[rng.randint(8), rng.randint(8)] = rng.randint(-30, 30)
            grid[(br, bc)] = blk
            deq = blk.astype(np.float64) * qt.reshape(8, 8)
            expect[br * 8:br * 8 + 8, bc * 8:bc * 8 + 8] = (
                _ref_idct(deq) + 128.0
            )
    blob = encode_jpeg(16, 16, [{"id": 1, "h": 1, "v": 1, "tq": 0}],
                       {0: qt}, [grid])
    got = J.jpeg_pixels(blob)[:, :, 0].astype(np.float64)
    np.testing.assert_allclose(
        got, np.clip(np.round(expect), 0, 255), atol=1.0
    )


def test_jpeg_color_420_uniform():
    """4:2:0 16x16, DC-only planes: Y=160, Cb=128+16, Cr=128-8 ->
    one flat RGB via the JFIF matrix."""
    ydc = (160 - 128) * 8  # spatial = dc/8
    cbdc = 16 * 8
    crdc = -8 * 8
    yb = np.zeros((8, 8), np.int64)
    yb[0, 0] = ydc
    cb = np.zeros((8, 8), np.int64)
    cb[0, 0] = cbdc
    cr = np.zeros((8, 8), np.int64)
    cr[0, 0] = crdc
    comps = [{"id": 1, "h": 2, "v": 2, "tq": 0},
             {"id": 2, "h": 1, "v": 1, "tq": 0},
             {"id": 3, "h": 1, "v": 1, "tq": 0}]
    blocks = [
        {(r, c): yb for r in range(2) for c in range(2)},
        {(0, 0): cb},
        {(0, 0): cr},
    ]
    blob = encode_jpeg(16, 16, comps, {0: np.ones(64, np.int64)}, blocks)
    got = J.jpeg_pixels(blob)
    assert got.shape == (16, 16, 3)
    r = round(160 + 1.402 * (-8))               # R pairs Cr
    g = round(160 - 0.344136 * 16 - 0.714136 * (-8))
    b = round(160 + 1.772 * 16)                 # B pairs Cb
    assert (got[:, :, 0] == r).all()
    assert (got[:, :, 1] == g).all()
    assert (got[:, :, 2] == b).all()


def test_jpeg_restart_markers():
    """DRI=1: an RSTn between every MCU, DC predictors reset — both
    blocks carry ABSOLUTE DCs."""
    b1 = np.zeros((8, 8), np.int64)
    b1[0, 0] = 16
    b2 = np.zeros((8, 8), np.int64)
    b2[0, 0] = 48
    blob = encode_jpeg(8, 16, [{"id": 1, "h": 1, "v": 1, "tq": 0}],
                       {0: np.ones(64, np.int64)},
                       [{(0, 0): b1, (0, 1): b2}], dri=1)
    got = J.jpeg_pixels(blob)
    assert (got[:, :8] == 16 // 8 + 128).all()
    assert (got[:, 8:] == 48 // 8 + 128).all()


def test_jpeg_header_dims_still_work():
    """jpeg_dimensions (header path) agrees with the full decode."""
    blk = np.zeros((8, 8), np.int64)
    blk[0, 0] = 8
    blob = encode_jpeg(8, 8, [{"id": 1, "h": 1, "v": 1, "tq": 0}],
                       {0: np.ones(64, np.int64)}, [{(0, 0): blk}])
    assert mm.jpeg_dimensions(blob) == (8, 8)


def test_jpeg_pixels_non_jpeg():
    assert J.jpeg_pixels(b"not a jpeg") is None


def test_image_pixel_stats_jpeg(spark):
    """JPEG blobs flow through the mapInPandas extractor: a flat gray
    image has equal channel means at the DC value."""
    blk = np.zeros((8, 8), np.int64)
    blk[0, 0] = 8 * 32  # spatial 32 -> sample 160
    blob = encode_jpeg(8, 8, [{"id": 1, "h": 1, "v": 1, "tq": 0}],
                       {0: np.ones(64, np.int64)}, [{(0, 0): blk}])
    df = spark.createDataFrame(
        [(1, "image", blob, "image/jpeg")], mm.MEDIA_SCHEMA
    )
    r = df.select("media_id", "blob").mapInPandas(
        mm.image_pixel_stats_batches, mm.IMAGE_PIXEL_SCHEMA
    ).collect()[0]
    assert (r.width, r.height) == (8, 8)
    assert (r.mean_r, r.mean_g, r.mean_b) == (160.0, 160.0, 160.0)
    assert r.valid


def test_encode_dc_jpeg_fixture():
    """The in-package DC-only fixture encoder round-trips through the
    decoder (multi-block image exercises the diff-0 chain)."""
    for dc in (-96, -8, 0, 8, 88):
        got = J.jpeg_pixels(J.encode_dc_jpeg(24, 16, dc))
        assert got.shape == (16, 24, 3)
        assert (got == np.clip(dc // 8 + 128, 0, 255)).all(), dc


def test_decode_block_raises_on_ac_run_past_block():
    """An AC symbol whose run escapes the block with a pending magnitude
    (not producible by a conforming encoder) must raise instead of
    silently breaking with the s bits unconsumed — the old break
    desynced the entropy stream and decoded later MCUs to garbage
    reported as valid=true stats (ADVICE r5)."""
    import numpy as np
    import pytest

    from data_quality_assessment_spark.functions import jpeg as J

    dc = J._Huffman([1] + [0] * 15, bytes([0]))        # t=0 at code 0
    ac = J._Huffman([1] + [0] * 15, bytes([0xF5]))     # run=15, s=5 at code 0
    # every symbol is the 1-bit code 0: k walks 16,32,48 then the 4th
    # ZRL-with-magnitude pushes k to 64 with s=5 pending
    br = J._BitReader(bytes(12), 0)
    with pytest.raises(ValueError):
        J._decode_block(br, dc, ac, 0, np.ones(64))


# ---------------------------------------------------------------------------
# progressive (SOF2) encoder for fixtures — spectral selection +
# successive approximation, per T.81 G.2 (test-only; the decoder under
# test lives in functions/jpeg.py)
# ---------------------------------------------------------------------------


def _prog_dc_first(bw, zzs, al, dc_enc):
    """zzs yields (ci, zigzag-block); DC prediction is PER COMPONENT."""
    preds = {}
    for ci, zz in zzs:
        v = int(zz[0]) >> al  # DC point transform: arithmetic shift
        diff = v - preds.get(ci, 0)
        preds[ci] = v
        t = _cat(diff)
        ln, code = dc_enc[t]
        bw.put(code, ln)
        if t:
            bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)


def _prog_dc_refine(bw, zzs, al):
    for _ci, zz in zzs:
        bw.put((int(zz[0]) >> al) & 1, 1)


def _prog_ac_first(bw, zzs, ss, se, al, ac_enc):
    eobrun = 0

    def flush():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            ln, code = ac_enc[r << 4]
            bw.put(code, ln)
            if r:
                bw.put(eobrun - (1 << r), r)
            eobrun = 0

    for zz in zzs:
        # AC point transform: integer division toward zero
        vals = {}
        for k in range(ss, se + 1):
            c = int(zz[k])
            v = (abs(c) >> al) * (1 if c >= 0 else -1)
            if v:
                vals[k] = v
        if not vals:
            eobrun += 1
            continue
        flush()
        last = max(vals)
        run = 0
        for k in range(ss, last + 1):
            v = vals.get(k)
            if v is None:
                run += 1
                continue
            while run >= 16:
                ln, code = ac_enc[0xF0]
                bw.put(code, ln)
                run -= 16
            s = _cat(v)
            ln, code = ac_enc[(run << 4) | s]
            bw.put(code, ln)
            bw.put(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last < se:
            eobrun += 1
    flush()


def _prog_ac_refine(bw, zzs, ss, se, al, ac_enc):
    """Refinement scan, EOB flushed per block (eobrun accumulation is
    exercised by the first-scan encoder; the decoder tail path is the
    same code for any eobrun)."""
    for zz in zzs:
        t = {k: abs(int(zz[k])) >> al for k in range(ss, se + 1)}
        eob = -1
        for k in range(ss, se + 1):
            if t[k] == 1:
                eob = k
        run = 0
        corr: list[int] = []
        for k in range(ss, eob + 1):
            if t[k] == 0:
                run += 1
                continue
            # ZRLs must be emitted at ANY nonzero coefficient once the
            # zero-history run exceeds 15 (not only at newly-significant
            # ones) — the decoder's walk consumes 16 zero-history slots
            # per ZRL regardless of what interrupts the run
            while run > 15:
                ln, code = ac_enc[0xF0]
                bw.put(code, ln)
                run -= 16
                for b in corr:
                    bw.put(b, 1)
                corr = []
            if t[k] > 1:
                corr.append(t[k] & 1)
                continue
            ln, code = ac_enc[(run << 4) | 1]
            bw.put(code, ln)
            run = 0
            bw.put(1 if int(zz[k]) > 0 else 0, 1)
            for b in corr:
                bw.put(b, 1)
            corr = []
        tail = [t[k] & 1
                for k in range(max(eob + 1, ss), se + 1) if t[k] != 0]
        if eob < se or corr:
            ln, code = ac_enc[0x00]  # EOB (run 1)
            bw.put(code, ln)
            for b in corr + tail:
                bw.put(b, 1)


def encode_progressive_jpeg(h, w, comps, qts, blocks):
    """Progressive (SOF2) twin of ``encode_jpeg``: same quantized
    coefficients, standard schedule — interleaved DC first (Al=1), DC
    refine, then per-component AC bands 1-5 and 6-63 at Al=1 with
    refinement scans to Al=0."""
    out = bytearray(b"\xff\xd8")
    for tid, q in qts.items():
        zzq = np.asarray(q).reshape(64)[J.ZIGZAG]
        out += b"\xff\xdb" + struct.pack(">H", 2 + 65)
        out += bytes([tid]) + bytes(int(x) for x in zzq)
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * len(comps), 8, h, w,
                                     len(comps))
    for c in comps:
        out += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
    dc_counts, dc_syms, dc_enc = _tables(DC_SYMS)
    ac_counts, ac_syms, ac_enc = _tables(AC_SYMS)
    for cls, (counts, syms) in ((0, (dc_counts, dc_syms)),
                                (1, (ac_counts, ac_syms))):
        out += b"\xff\xc4" + struct.pack(">H", 2 + 17 + len(syms))
        out += bytes([cls << 4]) + bytes(counts) + bytes(syms)

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)

    def zz_of(ci, brow, bcol):
        return np.asarray(blocks[ci][(brow, bcol)]).reshape(64)[J.ZIGZAG]

    def mcu_order_dc():
        """Interleaved order: every component's blocks per MCU."""
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci, c in enumerate(comps):
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            yield ci, zz_of(ci, my * c["v"] + by,
                                            mx * c["h"] + bx)

    def comp_order(ci):
        c = comps[ci]
        cw = -(-w * c["h"] // hmax)
        ch = -(-h * c["v"] // vmax)
        for by in range(-(-ch // 8)):
            for bx in range(-(-cw // 8)):
                yield zz_of(ci, by, bx)

    def sos(comp_list, ss, se, ah, al, body_fn):
        nonlocal out
        out += b"\xff\xda" + struct.pack(
            ">HB", 6 + 2 * len(comp_list), len(comp_list))
        for ci in comp_list:
            out += bytes([comps[ci]["id"], 0x00])
        out += bytes([ss, se, (ah << 4) | al])
        bw = _BitWriter()
        body_fn(bw)
        bw.align()
        out += bw.out

    # DC first (interleaved when multi-component), then refine
    if len(comps) > 1:
        sos(list(range(len(comps))), 0, 0, 0, 1,
            lambda bw: _prog_dc_first(bw, mcu_order_dc(), 1, dc_enc))
    else:
        sos([0], 0, 0, 0, 1,
            lambda bw: _prog_dc_first(
                bw, ((0, z) for z in comp_order(0)), 1, dc_enc))
    # AC bands, first pass at Al=1 (per component, as the spec requires)
    for ci in range(len(comps)):
        sos([ci], 1, 5, 0, 1,
            lambda bw, ci=ci: _prog_ac_first(bw, comp_order(ci), 1, 5, 1,
                                             ac_enc))
        sos([ci], 6, 63, 0, 1,
            lambda bw, ci=ci: _prog_ac_first(bw, comp_order(ci), 6, 63, 1,
                                             ac_enc))
    # refinement to full precision
    if len(comps) > 1:
        sos(list(range(len(comps))), 0, 0, 1, 0,
            lambda bw: _prog_dc_refine(bw, mcu_order_dc(), 0))
    else:
        sos([0], 0, 0, 1, 0,
            lambda bw: _prog_dc_refine(
                bw, ((0, z) for z in comp_order(0)), 0))
    for ci in range(len(comps)):
        sos([ci], 1, 5, 1, 0,
            lambda bw, ci=ci: _prog_ac_refine(bw, comp_order(ci), 1, 5, 0,
                                              ac_enc))
        sos([ci], 6, 63, 1, 0,
            lambda bw, ci=ci: _prog_ac_refine(bw, comp_order(ci), 6, 63, 0,
                                              ac_enc))
    out += b"\xff\xd9"
    return bytes(out)


def test_progressive_gray_equals_baseline_twin():
    """Progressive and baseline files built from the SAME quantized
    coefficients must decode to identical pixels (the baseline decoder
    is independently verified against a literal IDCT)."""
    rng = np.random.RandomState(8)
    h, w = 24, 32
    blocks = {}
    for by in range(3):
        for bx in range(4):
            blk = np.zeros((8, 8), int)
            # sparse coefficients incl. negatives and magnitude 1
            for _ in range(6):
                blk[rng.randint(8), rng.randint(8)] = int(
                    rng.randint(-15, 16))
            blk[0, 0] = int(rng.randint(-40, 41))
            blocks[(by, bx)] = blk
    # two fully-empty-AC blocks to exercise EOBRUN accumulation
    blocks[(0, 1)] = np.zeros((8, 8), int)
    blocks[(2, 3)][:, :] = 0
    comps = [{"id": 1, "h": 1, "v": 1, "tq": 0}]
    qts = {0: np.ones(64, int)}
    base = encode_jpeg(h, w, comps, qts, [blocks])
    prog = encode_progressive_jpeg(h, w, comps, qts, [blocks])
    a = J.jpeg_pixels(base)
    b = J.jpeg_pixels(prog)
    assert a.shape == b.shape == (h, w, 3)
    assert (a == b).all()


def test_progressive_color_interleaved_dc():
    """3-component 4:4:4 progressive: interleaved DC scans + per-
    component AC scans decode equal to the baseline twin."""
    rng = np.random.RandomState(9)
    h, w = 16, 16
    all_blocks = []
    for ci in range(3):
        blocks = {}
        for by in range(2):
            for bx in range(2):
                blk = np.zeros((8, 8), int)
                for _ in range(4):
                    blk[rng.randint(8), rng.randint(8)] = int(
                        rng.randint(-9, 10))
                blk[0, 0] = int(rng.randint(-30, 31))
                blocks[(by, bx)] = blk
        all_blocks.append(blocks)
    comps = [{"id": 1, "h": 1, "v": 1, "tq": 0},
             {"id": 2, "h": 1, "v": 1, "tq": 0},
             {"id": 3, "h": 1, "v": 1, "tq": 0}]
    qts = {0: np.ones(64, int)}
    base = encode_jpeg(h, w, comps, qts, all_blocks)
    prog = encode_progressive_jpeg(h, w, comps, qts, all_blocks)
    a = J.jpeg_pixels(base)
    b = J.jpeg_pixels(prog)
    assert (a == b).all()


def test_progressive_dense_blocks_zrl_refinement():
    """Blocks with >16-gaps between significant coefficients and dense
    magnitude-1 values walk the ZRL-in-refinement and newly-significant
    paths."""
    h, w = 8, 16
    b0 = np.zeros((8, 8), int)
    b0[0, 0] = 17
    b0.reshape(64)[:] = 0
    blk = np.zeros(64, int)
    blk[0] = 17
    # zigzag positions: sparse far-apart entries force long zero runs
    blk[J.ZIGZAG[1]] = 1      # magnitude 1: newly significant in refine
    blk[J.ZIGZAG[40]] = -1
    blk[J.ZIGZAG[63]] = 3
    blocks = {(0, 0): blk.reshape(8, 8), (0, 1): np.zeros((8, 8), int)}
    comps = [{"id": 1, "h": 1, "v": 1, "tq": 0}]
    qts = {0: np.ones(64, int)}
    base = encode_jpeg(h, w, comps, qts, [blocks])
    prog = encode_progressive_jpeg(h, w, comps, qts, [blocks])
    assert (J.jpeg_pixels(base) == J.jpeg_pixels(prog)).all()


def test_progressive_color_420_subsampled():
    """4:2:0 progressive: chroma components iterate their OWN smaller
    block grid in single-component scans, and the interleaved DC scan
    walks 4 Y blocks per MCU. Must equal the baseline twin."""
    rng = np.random.RandomState(10)

    def rblk(dc_range=30, n=3, lo=-9, hi=10):
        blk = np.zeros((8, 8), int)
        for _ in range(n):
            blk[rng.randint(8), rng.randint(8)] = int(rng.randint(lo, hi))
        blk[0, 0] = int(rng.randint(-dc_range, dc_range + 1))
        return blk

    comps = [{"id": 1, "h": 2, "v": 2, "tq": 0},
             {"id": 2, "h": 1, "v": 1, "tq": 0},
             {"id": 3, "h": 1, "v": 1, "tq": 0}]
    blocks = [
        {(r, c): rblk() for r in range(2) for c in range(2)},
        {(0, 0): rblk()},
        {(0, 0): rblk()},
    ]
    qts = {0: np.ones(64, int)}
    base = encode_jpeg(16, 16, comps, qts, blocks)
    prog = encode_progressive_jpeg(16, 16, comps, qts, blocks)
    a = J.jpeg_pixels(base)
    b = J.jpeg_pixels(prog)
    assert a.shape == b.shape == (16, 16, 3)
    assert (a == b).all()


def test_encode_dc_progressive_fixture():
    """The progressive DC-only fixture twin decodes identically to the
    baseline fixture at every dc, including odd dc (nonzero refinement
    bit) and multi-block frames."""
    for dc in (-96, -9, -3, 0, 1, 7, 8, 88, 1016, -1016):
        a = J.jpeg_pixels(J.encode_dc_jpeg(24, 16, dc))
        b = J.jpeg_pixels(J.encode_dc_progressive(24, 16, dc))
        assert (a == b).all(), dc
        assert (a == np.clip(round(dc / 8) + 128, 0, 255)).all(), dc


def test_progressive_dc_category_over_11_raises():
    """ADVICE r5: a desynced progressive stream whose Huffman symbol
    decodes to a DC magnitude category > 11 must raise (valid=false at
    the operator level) instead of wrapping pred past int32."""
    import numpy as np
    import pytest

    from data_quality_assessment_spark.functions import jpeg as J

    class FakeBR:
        def __init__(self):
            self.bits = 0

        def decode_symbol(self, tab):
            return 12  # > 11: corrupt

        def read_bits(self, n):
            return 0

    zz = np.zeros(64, dtype=np.int64)
    with pytest.raises(ValueError, match="> 11"):
        J._ProgressiveState._dc_first(FakeBR(), None, 0, zz, 1)
