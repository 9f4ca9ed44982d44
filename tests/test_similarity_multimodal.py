"""Similarity search (exact + LSH) and multimodal plumbing tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_quality_assessment_spark.functions import multimodal as mm
from data_quality_assessment_spark.operators import similarity as sim

DIM = 16
N = 200


@pytest.fixture(scope="module")
def vectors(spark):
    """Clustered corpus: 40 centroids x 5 noisy members — so "nearest
    neighbors" are real (cluster mates, cosine >> background), which is
    the regime ANN search is for."""
    rng = np.random.RandomState(3)
    centroids = rng.randn(N // 5, DIM)
    rows = []
    for i in range(N):
        base = centroids[i // 5]
        v = base + 0.15 * rng.randn(DIM)
        rows.append((i, [float(x) for x in v.astype(np.float32)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _numpy_topk(rows, qid, k):
    mat = {i: np.array(v, dtype=np.float64) for i, v in rows}
    q = mat[qid]
    scores = {
        i: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for i, v in mat.items() if i != qid
    }
    return sorted(scores, key=lambda i: (-scores[i], i))[:k]


def test_cosine_topk_matches_numpy(spark, vectors):
    rows = [(r.vec_id, r.embedding) for r in vectors.collect()]
    queries = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = sim.cosine_topk(vectors, queries, k=5).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r.q_id, r.rank)):
        by_q.setdefault(r.q_id, []).append(r.vec_id)
    for qid in range(3):
        assert by_q[qid] == _numpy_topk(rows, qid, 5), f"query {qid}"


def test_lsh_topk_recall(spark, vectors):
    """LSH with 1-bit multiprobe recovers most of the exact top-5."""
    rows = [(r.vec_id, r.embedding) for r in vectors.collect()]
    queries = vectors.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = sim.lsh_topk(vectors, queries, dim=DIM, k=5, n_planes=8).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, set()).add(r.vec_id)
    hits = total = 0
    for qid in range(5):
        exact = set(_numpy_topk(rows, qid, 5))
        hits += len(exact & by_q.get(qid, set()))
        total += 5
    assert hits / total >= 0.5, f"LSH recall too low: {hits}/{total}"


def test_lsh_signature_deterministic(spark, vectors):
    def sigs():
        return sim.with_lsh_signature(
            vectors, "embedding", DIM, 8, "s"
        ).orderBy("vec_id").collect()

    a, b = sigs(), sigs()
    assert [r.s for r in a] == [r.s for r in b]
    assert any(r.s != a[0].s for r in a)  # not degenerate


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", mm.encode_fake_image(640, 480, b"abc" * 50), "image/fake"),
        (2, "image", mm.encode_fake_image(32, 32, b"\x00" * 10), "image/fake"),
        (3, "image", b"\x89PNG\r\n\x1a\nrealpngbytes", "image/png"),
        (4, "audio", mm.encode_fake_audio(16000, 48000, b"pcm"), "audio/fake"),
        (5, "audio", b"RIFFxxxxWAVE", "audio/wav"),
    ]
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)


def test_image_metadata(spark, media):
    got = {
        r.media_id: r
        for r in mm.image_metadata(media.filter("kind = 'image'")).collect()
    }
    assert (got[1].width, got[1].height, got[1].valid) == (640, 480, True)
    assert (got[2].width, got[2].height) == (32, 32)
    assert got[3].valid is False  # real PNG -> stubbed seam, not a crash
    assert got[3].width is None


def test_audio_metadata(spark, media):
    got = {
        r.media_id: r
        for r in mm.audio_metadata(media.filter("kind = 'audio'")).collect()
    }
    assert (got[4].sample_rate, got[4].n_samples) == (16000, 48000)
    assert got[4].duration_sec == 3.0
    assert got[5].valid is False


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [(1, 100), (2, 10)], "media_id long, n_frames int"
    )
    got = sorted(
        (r.media_id, r.frame_idx)
        for r in mm.frame_sample_plan(df, every_n=30).collect()
    )
    assert got == [(1, 0), (1, 30), (1, 60), (1, 90), (2, 0)]


def test_ivf_topk_recall_and_partition(spark, vectors):
    """IVF-flat: every corpus vector in exactly one cell; nprobe search
    recovers most of the exact top-5 on clustered data, and recall is
    monotone in nprobe (more probed cells can only add candidates)."""
    cells = sim.with_ivf_cell(
        vectors, "embedding", sim.ivf_codebook(8, DIM), "c"
    ).collect()
    assert all(0 <= r.c < 8 for r in cells)

    rows = [(r.vec_id, r.embedding) for r in vectors.collect()]
    queries = vectors.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )

    def recall(nprobe):
        got = sim.ivf_topk(vectors, queries, dim=DIM, k=5,
                           n_centroids=8, nprobe=nprobe).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r.q_id, set()).add(r.vec_id)
        hits = sum(
            len(set(_numpy_topk(rows, qid, 5)) & by_q.get(qid, set()))
            for qid in range(5)
        )
        return hits / 25

    r2, r8 = recall(2), recall(8)
    assert r8 == 1.0, f"full probe must equal exact: {r8}"
    assert r2 <= r8
    assert recall(4) >= 0.5, "nprobe=4 recall too low"


def test_ivf_trained_codebook_seam(spark, vectors):
    """A pyspark.ml KMeans-trained codebook drops into the same plan
    (production path: train on a sample, pass plain lists); with k =
    number of true clusters the trained cells should give high recall
    at small nprobe."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = vectors.select(
        array_to_vector(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("features")
    )
    model = KMeans(k=4, seed=42, maxIter=20).fit(feats)
    cb = [list(map(float, c)) for c in model.clusterCenters()]
    assert len(cb) == 4 and len(cb[0]) == DIM
    queries = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    rows = [(r.vec_id, r.embedding) for r in vectors.collect()]
    got = sim.ivf_topk(vectors, queries, dim=DIM, k=5,
                       codebook=cb, nprobe=2).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, set()).add(r.vec_id)
    hits = sum(
        len(set(_numpy_topk(rows, qid, 5)) & by_q.get(qid, set()))
        for qid in range(3)
    )
    assert hits / 15 >= 0.6, f"trained-codebook recall: {hits}/15"


# ---------------------------------------------------------------------------
# real image headers (dependency-free JPEG/PNG/GIF dimension decode)
# ---------------------------------------------------------------------------


def _minimal_png(w, h):
    """A genuine, viewer-valid PNG built from the spec: signature +
    IHDR + IDAT (zlib-compressed filter+pixels) + IEND."""
    import struct
    import zlib

    def chunk(typ, data):
        c = struct.pack(">I", len(data)) + typ + data
        return c + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit gray
    raw = b"".join(b"\x00" + b"\x80" * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _minimal_jpeg(w, h):
    """SOI + APP0(JFIF) + DQT stub + SOF0 — a real JPEG prefix through
    the frame header (enough for any header-only dimension reader)."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(64)
    sof0 = (
        b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", h, w) + b"\x01\x01\x11\x00"
    )
    return b"\xff\xd8" + app0 + dqt + sof0


def test_png_header_decode():
    assert mm.png_dimensions(_minimal_png(1, 1)) == (1, 1)
    assert mm.png_dimensions(_minimal_png(640, 480)) == (640, 480)
    assert mm.png_dimensions(b"not a png") is None
    assert mm._decode_image(_minimal_png(33, 7)) == (33, 7)


def test_jpeg_header_decode():
    assert mm.jpeg_dimensions(_minimal_jpeg(1, 1)) == (1, 1)
    assert mm.jpeg_dimensions(_minimal_jpeg(1920, 1080)) == (1920, 1080)
    # progressive (SOF2) dimensions read identically
    prog = _minimal_jpeg(64, 32).replace(b"\xff\xc0", b"\xff\xc2")
    assert mm.jpeg_dimensions(prog) == (64, 32)
    # DHT (C4) must NOT be mistaken for a frame header
    dht_first = _minimal_jpeg(9, 9).replace(b"\xff\xdb", b"\xff\xc4")
    assert mm.jpeg_dimensions(dht_first) == (9, 9)
    assert mm.jpeg_dimensions(b"\xff\xd8\x00\x00") is None
    assert mm._decode_image(_minimal_jpeg(800, 600)) == (800, 600)


def test_gif_header_decode():
    import struct

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
    assert mm.gif_dimensions(gif) == (320, 200)
    assert mm._decode_image(gif) == (320, 200)


def test_image_metadata_real_formats(spark):
    """The image_metadata operator returns real dimensions for genuine
    PNG/JPEG blobs next to FAKEIMG rows (mixed-format partitions)."""
    rows = [
        (1, "image", mm.encode_fake_image(5, 6), "application/x-fake"),
        (2, "image", _minimal_png(12, 34), "image/png"),
        (3, "image", _minimal_jpeg(56, 78), "image/jpeg"),
        (4, "image", b"corrupt", "image/jpeg"),
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = {r.media_id: r for r in mm.image_metadata(df).collect()}
    assert (got[1].width, got[1].height, got[1].valid) == (5, 6, True)
    assert (got[2].width, got[2].height, got[2].valid) == (12, 34, True)
    assert (got[3].width, got[3].height, got[3].valid) == (56, 78, True)
    assert got[4].valid is False


# ---------------------------------------------------------------------------
# real MP4 (ISO BMFF) headers
# ---------------------------------------------------------------------------


def test_mp4_box_parse_roundtrip():
    b = mm.encode_min_mp4(timescale=1000, duration=4000, width=640, height=360)
    assert mm.mp4_metadata(b) == (4.0, 1, 640, 360)
    # fractional duration; odd dimensions
    b2 = mm.encode_min_mp4(90000, 123456, 1921, 1081)
    d, n, w, h = mm.mp4_metadata(b2)
    assert d == 123456 / 90000 and (n, w, h) == (1, 1921, 1081)
    # non-BMFF / corrupt inputs -> None, never an exception
    assert mm.mp4_metadata(b"") is None
    assert mm.mp4_metadata(b"RIFFxxxxWAVE") is None
    assert mm.mp4_metadata(b[:20]) is None  # truncated after ftyp
    # box with a size field pointing past the buffer -> clean None
    bad = bytearray(b)
    bad[0:4] = (2 ** 31).to_bytes(4, "big")
    assert mm.mp4_metadata(bytes(bad)) is None


def test_video_metadata_operator(spark):
    rows = [
        (1, "video", mm.encode_min_mp4(1000, 2500, 320, 240), "video/mp4"),
        (2, "video", b"not a video", "video/mp4"),
        (3, "video", None, "video/mp4"),
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = {r.media_id: r for r in mm.video_metadata(df).collect()}
    assert (got[1].duration_sec, got[1].n_tracks, got[1].width,
            got[1].height, got[1].valid) == (2.5, 1, 320, 240, True)
    assert got[2].valid is False and got[2].duration_sec is None
    assert got[3].valid is False


# ---------------------------------------------------------------------------
# real audio headers (WAV RIFF + MP3 frame)
# ---------------------------------------------------------------------------


def _minimal_wav(rate, n_samples, channels=1, bits=16):
    import struct

    block = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, bits)
    data = b"\x00" * (n_samples * block)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_wav_header_decode():
    assert mm.wav_metadata(_minimal_wav(8000, 4)) == (8000, 4)
    assert mm.wav_metadata(_minimal_wav(44100, 441, channels=2)) == (44100, 441)
    assert mm.wav_metadata(b"RIFFxxxxAVI ") is None
    assert mm.wav_metadata(b"junk") is None
    # truncated data chunk: frames actually present, not the declared size
    w = _minimal_wav(8000, 100)
    assert mm.wav_metadata(w[:len(w) - 100])[1] == 50


def test_mp3_frame_header():
    frame = b"\xff\xfb\x90\x00" + b"\x00" * 16  # MPEG1 L3, 128k, 44100
    assert mm.mp3_frame_header(frame) == (44100, 128)
    id3 = b"ID3\x04\x00\x00\x00\x00\x00\x0a" + b"\x00" * 10 + frame
    assert mm.mp3_frame_header(id3) == (44100, 128)
    assert mm.mp3_frame_header(b"\x00" * 64) is None


def test_audio_metadata_wav(spark):
    rows = [
        (1, "audio", mm.encode_fake_audio(16000, 32000), "application/x-fake"),
        (2, "audio", _minimal_wav(8000, 12000), "audio/wav"),
        (3, "audio", b"\xff\xfb\x90\x00" + b"\x00" * 16, "audio/mpeg"),
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = {r.media_id: r for r in mm.audio_metadata(df).collect()}
    assert (got[1].sample_rate, got[1].n_samples, got[1].duration_sec) == (
        16000, 32000, 2.0)
    assert (got[2].sample_rate, got[2].n_samples, got[2].duration_sec) == (
        8000, 12000, 1.5)
    # mp3: frame walk gives the exact count (1 frame = 1152 samples)
    assert (got[3].sample_rate, got[3].n_samples) == (44100, 1152)
    assert got[3].valid


# ---------------------------------------------------------------------------
# WAV PCM sample decode + real audio features
# ---------------------------------------------------------------------------


def test_wav_samples_roundtrip_16bit():
    import numpy as np

    s = np.array([0, 100, -100, 32767, -32768, 5], dtype=np.int64)
    blob = mm.encode_wav(8000, s)
    rate, ch, norm, x = mm.wav_samples_raw(blob)
    assert (rate, ch, norm) == (8000, 1, 32768.0)
    assert x.tolist() == s.tolist()
    np.testing.assert_allclose(x / norm, s / 32768.0)


def test_wav_samples_8_and_32_bit():
    import numpy as np

    s8 = np.array([0, 127, -128, 64], dtype=np.int64)
    r, ch, norm, x = mm.wav_samples_raw(mm.encode_wav(4000, s8, bits=8))
    assert norm == 128.0 and x.tolist() == s8.tolist()
    s32 = np.array([0, 2**31 - 1, -(2**31), 42], dtype=np.int64)
    r, ch, norm, x = mm.wav_samples_raw(mm.encode_wav(4000, s32, bits=32))
    assert norm == 2.0**31 and x.tolist() == s32.tolist()


def test_wav_samples_24bit_and_float():
    import struct

    import numpy as np

    # hand-built 24-bit PCM: values 1, -1, 8388607, -8388608
    vals = [1, -1, 8388607, -8388608]
    data = b"".join(
        struct.pack("<I", v & 0xFFFFFFFF)[:3] for v in vals
    )
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 3, 3, 24)
    blob = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    r, ch, norm, x = mm.wav_samples_raw(blob)
    assert norm == float(1 << 23) and x.tolist() == vals
    # IEEE float32 (format code 3)
    fvals = np.array([0.5, -0.25, 1.0, -1.0], dtype="<f4")
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 8000 * 4, 4, 32)
    blob = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + 16)
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 16) + fvals.tobytes()
    )
    r, ch, norm, x = mm.wav_samples_raw(blob)
    assert norm == 1.0
    np.testing.assert_allclose(x, fvals.astype(np.float64))


def test_wav_samples_stereo_mono_mix():
    import numpy as np

    inter = np.array([100, 300, -100, -300], dtype=np.int64)  # L,R,L,R
    blob = mm.encode_wav(8000, inter, channels=2)
    rate, ch, norm, x = mm.wav_samples_raw(blob)
    assert (rate, ch, norm) == (8000, 2, 32768.0)
    assert x.tolist() == inter.tolist()  # interleaved, not mixed
    # audio_features mixes to mono: (100 + 300) / 2, (-100 - 300) / 2
    import pandas as pd

    batch = pd.DataFrame({"media_id": [1], "blob": [blob]})
    (feats,) = mm.audio_features_batches(iter([batch]))
    got = feats.iloc[0]
    assert got.n_samples == 2
    assert got.rms == got.peak == round(200 / 32768.0, 6)


def test_audio_features_values(spark):
    """Feature math pinned by hand on a tiny signal + invalid-blob row."""
    import numpy as np

    s = np.array([100, -100, 100, -100], dtype=np.int64)
    rows = [
        (1, "audio", mm.encode_wav(8000, s), "audio/wav"),
        (2, "audio", b"not a wav", "application/octet-stream"),
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = {r.media_id: r for r in mm.audio_features(df).collect()}
    r1 = got[1]
    assert (r1.sample_rate, r1.n_samples) == (8000, 4)
    assert r1.duration_sec == 4 / 8000
    assert r1.rms == round(100 / 32768.0, 6)   # constant magnitude
    assert r1.peak == round(100 / 32768.0, 6)
    assert r1.zcr == 1.0                        # every step crosses
    assert r1.valid
    assert got[2].valid is False


# ---------------------------------------------------------------------------
# real PNG pixel decode
# ---------------------------------------------------------------------------


def _png_from_filtered(w, h, ch, ctype, scanlines, plte=None):
    """Hand-build a PNG whose IDAT carries the GIVEN per-line filter
    bytes + filtered data — exercises each unfilter path directly."""
    import struct as st
    import zlib

    def chunk(tag, data):
        return (st.pack(">I", len(data)) + tag + data
                + st.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = st.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw = b"".join(
        bytes([f]) + bytes(bytearray(int(v) & 0xFF for v in line))
        for f, line in scanlines
    )
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", bytes(plte))
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def test_png_pixels_roundtrip_truecolor():
    """encode_png (filter 0) -> png_pixels is the identity."""
    import numpy as np

    from data_quality_assessment_spark.plans import report_sinks as rs

    rng = np.random.RandomState(3)
    rgb = rng.randint(0, 256, (5, 7, 3), dtype=np.uint8)
    got = mm.png_pixels(rs.encode_png(rgb))
    assert (got == rgb).all()


def test_png_pixels_all_filters():
    """Sub/Up/Average/Paeth unfiltering pinned against a hand-filtered
    stream (2x3 RGB; expected pixels derived independently)."""
    import numpy as np

    # target image rows (RGB, stride 9)
    row0 = np.array([10, 20, 30, 13, 24, 35, 16, 28, 40], np.int32)
    row1 = np.array([12, 22, 32, 15, 26, 37, 18, 30, 42], np.int32)

    def sub_filter(row):
        out = row.copy()
        out[3:] = (row[3:] - row[:-3]) % 256
        return out

    def up_filter(row, prev):
        return (row - prev) % 256

    def avg_filter(row, prev):
        out = row.copy()
        for i in range(len(row)):
            left = row[i - 3] if i >= 3 else 0
            out[i] = (row[i] - ((left + prev[i]) >> 1)) % 256
        return out

    def paeth_filter(row, prev):
        out = row.copy()
        for i in range(len(row)):
            a = row[i - 3] if i >= 3 else 0
            b, c = prev[i], (prev[i - 3] if i >= 3 else 0)
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (row[i] - pr) % 256
        return out

    for f1, enc in [(1, lambda: sub_filter(row1)),
                    (2, lambda: up_filter(row1, row0)),
                    (3, lambda: avg_filter(row1, row0)),
                    (4, lambda: paeth_filter(row1, row0))]:
        blob = _png_from_filtered(
            3, 2, 3, 2,
            [(1, sub_filter(row0)), (f1, enc())],
        )
        got = mm.png_pixels(blob)
        expect = np.stack([row0.reshape(3, 3), row1.reshape(3, 3)])
        assert (got == expect.astype(np.uint8)).all(), f"filter {f1}"


def test_png_pixels_gray_palette_rgba():
    import numpy as np

    # grayscale: value replicated to RGB
    blob = _png_from_filtered(2, 1, 1, 0, [(0, [7, 250])])
    assert (mm.png_pixels(blob) == [[[7, 7, 7], [250, 250, 250]]]).all()
    # palette
    blob = _png_from_filtered(
        2, 1, 1, 3, [(0, [1, 0])], plte=[10, 20, 30, 200, 100, 50]
    )
    assert (mm.png_pixels(blob) == [[[200, 100, 50], [10, 20, 30]]]).all()
    # RGBA: alpha dropped
    blob = _png_from_filtered(1, 1, 4, 6, [(0, [1, 2, 3, 128])])
    assert (mm.png_pixels(blob) == [[[1, 2, 3]]]).all()
    # non-PNG
    assert mm.png_pixels(b"nope") is None


def test_image_pixel_stats(spark):
    import numpy as np

    from data_quality_assessment_spark.plans import report_sinks as rs

    rgb = np.zeros((4, 4, 3), np.uint8)
    rgb[:, :, 0] = 100
    rgb[:, :, 1] = 50
    rgb[:2, :, 2] = 255  # mean_b = 127.5
    rows = [
        (1, "image", rs.encode_png(rgb), "image/png"),
        (2, "image", b"garbage", "application/octet-stream"),
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = {r.media_id: r for r in mm.image_pixel_stats(df).collect()}
    r1 = got[1]
    assert (r1.width, r1.height) == (4, 4)
    assert (r1.mean_r, r1.mean_g, r1.mean_b) == (100.0, 50.0, 127.5)
    assert r1.valid and not got[2].valid


def test_mp3_frame_walk():
    """Exact sample count from walking real frame lengths (144*br/sr +
    padding), with a VBR bitrate change mid-stream and an ID3v2 tag."""
    def frame(br_idx, pad=0, sr_idx=0):
        hdr = bytes([0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2) | (pad << 1),
                     0x00])
        br = mm._MP3_BITRATES[br_idx] * 1000
        sr = mm._MP3_RATES[sr_idx]
        ln = (144 * br) // sr + pad
        return hdr + b"\x00" * (ln - 4)

    blob = frame(9) + frame(11, pad=1) + frame(9)  # 128k, 192k+pad, 128k
    assert mm.mp3_frame_walk(blob) == (44100, 3 * 1152)
    id3 = b"ID3\x04\x00\x00\x00\x00\x00\x0a" + b"\x00" * 10 + blob
    assert mm.mp3_frame_walk(id3) == (44100, 3 * 1152)
    # trailing junk stops the walk, prefix frames still counted
    assert mm.mp3_frame_walk(blob + b"junkjunk") == (44100, 3 * 1152)
    assert mm.mp3_frame_walk(b"\x00" * 64) is None


# ---------------------------------------------------------------------------
# real GIF pixel decode (LZW)
# ---------------------------------------------------------------------------


def _lzw_encode(indices, min_code_size):
    """Reference GIF-LZW encoder for round-trip tests (grows the code
    width exactly when a conforming decoder does)."""
    clear = 1 << min_code_size
    end = clear + 1
    codes = [(clear, min_code_size + 1)]
    code_size = min_code_size + 1
    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    w = ()
    for px in indices:
        wk = w + (int(px),)
        if wk in table:
            w = wk
            continue
        codes.append((table[w], code_size))
        table[wk] = next_code
        next_code += 1
        # the decoder's table lags one entry, so it widens only after
        # its NEXT add — the encoder switches one code later than the
        # naive rule
        if next_code == (1 << code_size) + 1 and code_size < 12:
            code_size += 1
        w = (int(px),)
    if w:
        codes.append((table[w], code_size))
    codes.append((end, code_size))
    # pack LSB-first
    acc = nbits = 0
    out = bytearray()
    for c, size in codes:
        acc |= c << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _encode_gif(indices2d, palette, interlaced=False, min_code_size=None):
    """Spec-layout single-frame GIF89a from an index grid + palette."""
    import struct as st

    h, w = len(indices2d), len(indices2d[0])
    bits = max(2, (len(palette) - 1).bit_length())
    size = 2 ** bits
    mcs = min_code_size if min_code_size is not None else bits
    rows = list(indices2d)
    if interlaced:
        order = [r for s, step in ((0, 8), (4, 8), (2, 4), (1, 2))
                 for r in range(s, h, step)]
        rows = [indices2d[r] for r in order]
    flat = [px for row in rows for px in row]
    lzw = _lzw_encode(flat, mcs)
    gct = b"".join(bytes(c) for c in palette)
    gct += b"\x00" * (3 * size - len(gct))
    out = (b"GIF89a" + st.pack("<HH", w, h)
           + bytes([0x80 | (bits - 1), 0, 0]) + gct
           + b"\x2C" + st.pack("<4H", 0, 0, w, h)
           + bytes([0x40 if interlaced else 0])
           + bytes([mcs]))
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    return out + b"\x00\x3B"


def test_gif_pixels_roundtrip():
    import numpy as np

    palette = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    rng = np.random.RandomState(9)
    grid = rng.randint(0, 4, (13, 9)).tolist()
    blob = _encode_gif(grid, palette)
    got = mm.gif_pixels(blob)
    expect = np.array(palette, np.uint8)[np.array(grid)]
    assert (got == expect).all()
    # large grid: exercises code-width growth past 9 bits
    big = rng.randint(0, 4, (40, 40)).tolist()
    got2 = mm.gif_pixels(_encode_gif(big, palette))
    assert (got2 == np.array(palette, np.uint8)[np.array(big)]).all()


def test_gif_pixels_interlaced():
    import numpy as np

    palette = [(10, 10, 10), (200, 50, 25)]
    grid = [[(r + c) % 2 for c in range(5)] for r in range(11)]
    blob = _encode_gif(grid, palette, interlaced=True, min_code_size=2)
    got = mm.gif_pixels(blob)
    expect = np.array(palette, np.uint8)[np.array(grid)]
    assert (got == expect).all()


def test_gif_lzw_clear_per_code_stream():
    """Decoder-only check independent of our encoder: a stream that
    issues CLEAR before every root code (the classic 'uncompressed
    GIF' trick) must decode to the raw index sequence."""
    mcs = 2
    clear, end = 4, 5
    codes = []
    pixels = [0, 3, 1, 2, 2, 0]
    for p in pixels:
        codes.append(clear)
        codes.append(p)
    codes.append(end)
    acc = nbits = 0
    data = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += 3  # code size stays min+1 = 3 (cleared every code)
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    assert mm._lzw_decode(bytes(data), mcs, 100) == pixels


def test_image_pixel_stats_gif(spark):
    palette = [(8, 16, 32)]
    grid = [[0, 0], [0, 0]]
    rows = [(1, "image", _encode_gif(grid, palette, min_code_size=2),
             "image/gif")]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    r = mm.image_pixel_stats(df).collect()[0]
    assert (r.width, r.height) == (2, 2)
    assert (r.mean_r, r.mean_g, r.mean_b) == (8.0, 16.0, 32.0)
    assert r.valid


# ---------------------------------------------------------------------------
# round-5 ADVICE regressions: wide-PCM exact ssq, PIL fallback reach,
# MP3 leading-junk sync scan
# ---------------------------------------------------------------------------


def test_exact_ssq_wide_pcm_no_int64_wrap():
    # 24-bit full-scale wraps a naive int64 dot after ~131k samples
    v = (1 << 23) - 1
    x = np.full(200_000, v, dtype=np.int64)
    x[::2] *= -1
    assert mm._exact_ssq(x) == 200_000 * v * v  # true value exceeds 2^63
    # 32-bit full-scale wraps after two samples
    w = (1 << 31) - 1
    y = np.array([w, -w, w, w - 5], dtype=np.int64)
    assert mm._exact_ssq(y) == sum(int(t) * int(t) for t in y.tolist())
    # 16-bit stays on the single-dot fast path
    z = np.array([3, -4, 12, -32768], dtype=np.int64)
    assert mm._exact_ssq(z) == 9 + 16 + 144 + 32768 * 32768
    assert mm._exact_ssq(np.array([], dtype=np.int64)) == 0


def test_audio_features_32bit_overflow_safe(spark):
    """Full-scale 32-bit PCM: the old int64 np.dot wrapped (rms NaN or
    garbage while valid=true); the split-dot path must report rms=peak=1."""
    w = (1 << 31) - 1
    s = np.full(1000, w, dtype=np.int64)
    s[::2] *= -1
    blob = mm.encode_wav(8000, s, bits=32)
    df = spark.createDataFrame(
        [(1, bytearray(blob))], "media_id long, blob binary"
    )
    r = mm.audio_features(df).collect()[0]
    assert r.valid
    assert r.rms == pytest.approx(1.0, abs=1e-6)
    assert r.peak == pytest.approx(1.0, abs=1e-6)
    assert r.zcr == pytest.approx(1.0, abs=1e-6)


def test_decode_image_rgb_pil_fallback_on_notimplemented(monkeypatch):
    """A native decoder raising NotImplementedError must not preempt the
    PIL branch (ADVICE r5): with a stub PIL installed, a JPEG variant the
    native decoder rejects still decodes instead of becoming valid=false."""
    sentinel = np.full((2, 3, 3), 7, dtype=np.uint8)

    class _FakeIm:
        size = (3, 2)  # (w, h) — under the bomb budget

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def convert(self, mode):
            assert mode == "RGB"
            return sentinel

    class _FakePIL:
        @staticmethod
        def open(fp):
            return _FakeIm()

    # arithmetic-coded JPEG (SOF9) — native decoder raises NotImplementedError
    blob = b"\xff\xd8\xff\xc9" + bytes(20)
    from data_quality_assessment_spark.functions.jpeg import jpeg_pixels

    with pytest.raises(NotImplementedError):
        jpeg_pixels(blob)
    monkeypatch.setattr(mm, "_PILImage", _FakePIL)
    out = mm._decode_image_rgb(blob)
    assert out.shape == (2, 3, 3) and (out == 7).all()
    # and with no PIL at all the same blob raises -> valid=false row
    monkeypatch.setattr(mm, "_PILImage", None)
    with pytest.raises(ValueError):
        mm._decode_image_rgb(blob)


def test_mp3_frame_walk_leading_junk():
    """Stream-rip style blobs with junk between the ID3 tag and the first
    frame sync must walk the same frames the clean blob does."""

    def frame(br_idx=9, sr_idx=0, pad=0):
        h = bytes([0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2) | (pad << 1), 0])
        flen = (144 * mm._MP3_BITRATES[br_idx] * 1000) // mm._MP3_RATES[sr_idx] + pad
        return h + bytes(flen - 4)

    clean = frame() + frame() + frame()
    assert mm.mp3_frame_walk(clean) == (44100, 3 * mm.MP3_SAMPLES_PER_FRAME)
    junk = b"\x00paddingjunk\xfe" * 3 + clean
    assert mm.mp3_frame_walk(junk) == mm.mp3_frame_walk(clean)
    assert mm.mp3_frame_header(junk) == (44100, 128)
    # junk containing a bare 0xFF that is NOT a valid sync is skipped too
    junk2 = b"\xff\x00\xff\xe0" + clean  # second: version/layer invalid
    assert mm.mp3_frame_walk(junk2) == (44100, 3 * mm.MP3_SAMPLES_PER_FRAME)
    assert mm.mp3_frame_walk(b"\x00" * 64) is None


def test_decode_image_rgb_pil_respects_bomb_guard(monkeypatch):
    """ADVICE r5: the PIL fallback must enforce the same 64MP budget as
    the native decoders — a 100MP image PIL would happily decode is
    rejected before convert()."""
    class _HugeIm:
        size = (10000, 10000)  # 100 MP

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def convert(self, mode):  # pragma: no cover — must not be hit
            raise AssertionError("bomb guard bypassed")

    class _FakePIL:
        @staticmethod
        def open(fp):
            return _HugeIm()

    blob = b"\xff\xd8\xff\xc9" + bytes(20)
    monkeypatch.setattr(mm, "_PILImage", _FakePIL)
    with pytest.raises(ValueError, match="bomb"):
        mm._decode_image_rgb(blob)
