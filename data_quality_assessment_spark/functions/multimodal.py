"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Training-data-pipeline extension (no reference analog). The Spark-side
plumbing — schemas, Arrow batch shapes, ``mapInPandas`` signatures,
partition behavior — is real and tested. Decode is real and
dependency-free for the formats a web crawl actually carries: PIXEL
decode for PNG (filters 0-4, gray/RGB/palette/RGBA), GIF (LZW) and
JPEG (baseline + progressive Huffman/IDCT, functions/jpeg.py); SAMPLE
decode for WAV PCM (8/16/24/32-bit); header/metadata decode for MP3
(full frame walk) and MP4 (ISO BMFF). PIL is an optional fallback for
rarer image formats (subject to the same 64 MP bomb budget);
compressed-audio SAMPLE synthesis (the MP3 filterbank) stays out of
scope and raises ``NotImplementedError`` into valid=false rows. The
deterministic FAKE containers below exercise the plumbing end-to-end
where no real format applies.

FAKE container format (deterministic, self-describing):
  b"FAKEIMG1" + width:uint16be + height:uint16be + payload bytes
  b"FAKEAUD1" + sample_rate:uint32be + n_samples:uint32be + payload

Design for 100 TB: media rows are wide (MBs of binary); everything here
streams through ``mapInPandas`` so a partition is processed batch-by-
batch without materializing all blobs at once, and the output drops the
binary column as early as possible (feature extraction projects blobs
away — the shuffle after this stage moves features, not media).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .jpeg import MAX_DECODE_PIXELS as _MAX_DECODE_PIXELS

IMG_MAGIC = b"FAKEIMG1"
AUD_MAGIC = b"FAKEAUD1"

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),       # image | audio | video
    T.StructField("blob", T.BinaryType()),
    T.StructField("mime", T.StringType()),
])

IMAGE_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("valid", T.BooleanType()),
])

AUDIO_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("duration_sec", T.DoubleType()),
    T.StructField("valid", T.BooleanType()),
])


def encode_fake_image(width: int, height: int, payload: bytes = b"") -> bytes:
    return IMG_MAGIC + struct.pack(">HH", width, height) + payload

def encode_fake_audio(rate: int, n: int, payload: bytes = b"") -> bytes:
    return AUD_MAGIC + struct.pack(">II", rate, n) + payload


try:  # real codec, used when available — not shipped in this container
    from PIL import Image as _PILImage
except ImportError:
    _PILImage = None


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# SOF markers carry the frame dimensions; C4/C8/CC look like SOF but are
# DHT/JPG-extension/DAC tables
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def png_dimensions(blob: bytes) -> tuple[int, int] | None:
    """(width, height) from the IHDR chunk (PNG spec: 8-byte signature,
    then the mandatory first chunk IHDR with big-endian u32 w, h)."""
    if len(blob) < 24 or blob[:8] != _PNG_SIG or blob[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", blob[16:24])
    return (w, h)


def jpeg_dimensions(blob: bytes) -> tuple[int, int] | None:
    """(width, height) from the first SOFn segment: walk the marker
    stream (0xFF marker, u16 length incl. itself), skipping APPn/COM/
    quantization tables, until a start-of-frame; its payload is
    precision u8, height u16be, width u16be (JPEG/JFIF spec)."""
    if len(blob) < 4 or blob[:2] != b"\xff\xd8":
        return None
    i = 2
    n = len(blob)
    while i + 3 < n:
        if blob[i] != 0xFF:
            return None  # desynced — not a well-formed marker stream
        while i < n and blob[i] == 0xFF:  # fill bytes are legal padding
            i += 1
        if i >= n:
            return None
        marker = blob[i]
        i += 1
        if 0xD0 <= marker <= 0xD9:  # RSTn/SOI/EOI: no length field
            continue
        if i + 1 >= n:
            return None
        seg_len = struct.unpack(">H", blob[i:i + 2])[0]
        if marker in _JPEG_SOF:
            if i + 7 > n:
                return None
            h, w = struct.unpack(">HH", blob[i + 3:i + 7])
            return (w, h)
        i += seg_len
    return None


def gif_dimensions(blob: bytes) -> tuple[int, int] | None:
    """(width, height) from the logical screen descriptor (little-endian
    u16 pair right after the GIF87a/GIF89a signature)."""
    if len(blob) < 10 or blob[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", blob[6:10])
    return (w, h)


def _decode_image(blob: bytes) -> tuple[int, int]:
    """Seam: returns (width, height). The deterministic FAKE container
    and real JPEG/PNG/GIF headers decode dependency-free (the metadata
    stage of a web crawl never needs pixel data); full pixel decode for
    other formats goes through PIL when installed (optional import),
    else raises NotImplementedError — all paths unit-tested."""
    if blob[:8] == IMG_MAGIC:
        return struct.unpack(">HH", blob[8:12])
    for parse in (png_dimensions, jpeg_dimensions, gif_dimensions):
        wh = parse(blob)
        if wh is not None:
            return wh
    if _PILImage is not None:
        import io

        with _PILImage.open(io.BytesIO(blob)) as im:
            return im.size
    raise NotImplementedError(
        "unrecognized image format and no PIL in this container; "
        "FAKEIMG1, JPEG, PNG and GIF headers decode natively"
    )


def png_pixels(blob: bytes):
    """REAL PNG pixel decode, dependency-free (PNG spec: zlib-inflated
    IDAT scanlines, per-line filter byte, filters 0-4 None/Sub/Up/
    Average/Paeth): returns an HxWx3 uint8 RGB array. Supports 8-bit
    gray / RGB / palette / RGBA (alpha dropped), non-interlaced — the
    shapes crawl thumbnails actually take. Returns None when the blob
    is not a PNG; raises on unsupported depth/interlace so callers'
    valid=false paths engage."""
    if len(blob) < 24 or blob[:8] != _PNG_SIG:
        return None
    pos = 8
    w = h = depth = ctype = interlace = None
    idat = b""
    plte = None
    n = len(blob)
    while pos + 8 <= n:
        (ln,) = struct.unpack(">I", blob[pos:pos + 4])
        tag = blob[pos + 4:pos + 8]
        body = blob[pos + 8:pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body[:13]
            )
        elif tag == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None or depth != 8 or interlace != 0 or ctype not in (0, 2, 3, 6):
        raise NotImplementedError(
            f"PNG depth={depth} ctype={ctype} interlace={interlace} "
            "unsupported (8-bit gray/RGB/palette/RGBA, no interlace)"
        )
    if w * h > _MAX_DECODE_PIXELS:
        raise ValueError(
            f"PNG declares {w}x{h} — over the decode bomb guard"
        )
    ch = {0: 1, 2: 3, 3: 1, 6: 4}[ctype]
    stride = w * ch
    # cap inflation at the size the declared dims need: a zlib bomb in
    # IDAT must not out-allocate the dimension guard above
    need = h * (stride + 1)
    raw = memoryview(
        zlib.decompressobj().decompress(idat, max(need, 1))
    )
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    p = 0
    for y in range(h):
        f = raw[p]
        cur = np.frombuffer(raw[p + 1:p + 1 + stride], np.uint8).astype(
            np.int32
        )
        p += 1 + stride
        if f == 1:  # Sub: sequential left-dependency
            for i in range(ch, stride):
                cur[i] = (cur[i] + cur[i - ch]) & 0xFF
        elif f == 2:  # Up: vectorized
            cur = (cur + prev) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                left = cur[i - ch] if i >= ch else 0
                cur[i] = (cur[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth predictor
            for i in range(stride):
                a = cur[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (cur[i] + pr) & 0xFF
        elif f != 0:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    if ctype == 2:
        return out.reshape(h, w, 3)
    if ctype == 6:
        return out.reshape(h, w, 4)[:, :, :3].copy()
    if ctype == 0:
        return np.repeat(out.reshape(h, w, 1), 3, axis=2)
    if plte is None:
        raise ValueError("palette PNG without PLTE")
    return plte[out.reshape(h, w)]


def _lzw_decode(data: bytes, min_code_size: int, max_px: int) -> list[int]:
    """GIF-variant LZW (LSB-first packed codes, growing width, clear /
    end codes — GIF89a spec appendix F)."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    table: list[tuple[int, ...]] = [(i,) for i in range(clear)] + [(), ()]
    next_code = end + 1
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    bitpos = 0
    nbits = len(data) * 8
    while bitpos + code_size <= nbits and len(out) < max_px:
        c = 0
        byte_i, bit_i = divmod(bitpos, 8)
        # codes are <=12 bits: read up to 3 bytes little-endian
        chunk = int.from_bytes(data[byte_i:byte_i + 3], "little")
        c = (chunk >> bit_i) & ((1 << code_size) - 1)
        bitpos += code_size
        if c == clear:
            table = [(i,) for i in range(clear)] + [(), ()]
            next_code = end + 1
            code_size = min_code_size + 1
            prev = None
            continue
        if c == end:
            break
        if prev is None:
            entry = table[c]
        elif c < len(table) and c != next_code:
            entry = table[c]
        elif c == next_code:
            entry = prev + (prev[0],)
        else:
            break  # corrupt stream: stop with the prefix decoded
        out.extend(entry)
        if prev is not None:
            table.append(prev + (entry[0],))
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    return out


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def gif_pixels(blob: bytes):
    """REAL GIF pixel decode, dependency-free (GIF87a/89a: logical
    screen + color tables + LZW-compressed image data, interlace
    de-pass): RGB array of the FIRST image frame. None when the blob
    is not a GIF; raises on structurally broken files."""
    if len(blob) < 13 or blob[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    flags = blob[10]
    i = 13
    gct = None
    if flags & 0x80:
        size = 2 ** ((flags & 7) + 1)
        gct = np.frombuffer(blob[i:i + 3 * size], np.uint8).reshape(-1, 3)
        i += 3 * size
    n = len(blob)
    while i < n:
        b0 = blob[i]
        if b0 == 0x21:  # extension block: label + sub-blocks
            i += 2
            while i < n and blob[i] != 0:
                i += 1 + blob[i]
            i += 1
        elif b0 == 0x2C:  # image descriptor
            _ix, _iy, iw, ih = struct.unpack("<4H", blob[i + 1:i + 9])
            if iw * ih > _MAX_DECODE_PIXELS:
                raise ValueError(
                    f"GIF declares {iw}x{ih} — over the decode bomb guard"
                )
            lflags = blob[i + 9]
            i += 10
            table = gct
            if lflags & 0x80:
                size = 2 ** ((lflags & 7) + 1)
                table = np.frombuffer(
                    blob[i:i + 3 * size], np.uint8
                ).reshape(-1, 3)
                i += 3 * size
            if table is None:
                raise ValueError("GIF image without a color table")
            min_code = blob[i]
            i += 1
            data = bytearray()
            while i < n and blob[i] != 0:
                ln = blob[i]
                data += blob[i + 1:i + 1 + ln]
                i += 1 + ln
            idx = _lzw_decode(bytes(data), min_code, iw * ih)
            if len(idx) < iw * ih:
                raise ValueError("GIF pixel data truncated")
            grid = np.asarray(idx[:iw * ih], np.int64).reshape(ih, iw)
            if lflags & 0x40:  # interlaced: rows arrive in 4 passes
                order = [
                    r for start, step in _GIF_INTERLACE_PASSES
                    for r in range(start, ih, step)
                ]
                un = np.empty_like(grid)
                un[order] = grid
                grid = un
            return table[grid]
        else:  # trailer (0x3B) or junk
            break
    raise ValueError("GIF contains no image data")


IMAGE_PIXEL_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("mean_r", T.DoubleType()),
    T.StructField("mean_g", T.DoubleType()),
    T.StructField("mean_b", T.DoubleType()),
    T.StructField("valid", T.BooleanType()),
])


def _decode_image_rgb(raw: bytes) -> np.ndarray:
    """RGB pixel array via the dependency-free native decoders (PNG,
    GIF, JPEG), falling back to PIL when installed. A native decoder
    raising NotImplementedError (arithmetic JPEG, exotic PNG) or
    ValueError must NOT preempt the PIL branch — PIL only loses its
    shot when no decoder (native or PIL) handles the blob, which raises
    ValueError so callers emit a valid=false row."""
    from .jpeg import jpeg_pixels

    for dec in (png_pixels, gif_pixels, jpeg_pixels):
        try:
            rgb = dec(raw)
        except (NotImplementedError, ValueError):
            rgb = None
        if rgb is not None:
            return rgb
    if _PILImage is not None:
        import io

        with _PILImage.open(io.BytesIO(raw)) as im:
            # the 64 MP decompression-bomb budget applies to the PIL
            # branch too: PIL's own default limit only errors near
            # ~178 MP, so a 64-178 MP bomb rejected by the native
            # decoders would still fully decode here (ADVICE r5)
            w, h = im.size
            if w * h > _MAX_DECODE_PIXELS:
                raise ValueError(
                    f"image {w}x{h} over the decode bomb guard"
                )
            return np.asarray(im.convert("RGB"))
    raise ValueError("undecodable image blob")


def image_pixel_stats(df: DataFrame) -> DataFrame:
    """REAL per-channel pixel statistics from the dependency-free PNG
    and GIF decoders (falls back to PIL for other formats when
    installed):
    per-channel means computed as exact integer sums with one final
    division — bit-stable across engines, the property the DuckDB
    oracle checks. Undecodable blobs yield valid=false rows."""
    return df.select("media_id", "blob").mapInPandas(
        image_pixel_stats_batches, IMAGE_PIXEL_SCHEMA
    )


def image_pixel_stats_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Batch transform behind :func:`image_pixel_stats`, exposed so
    callers that synthesize media in Python (the entry fixtures) can
    FUSE generator -> decoder into one MapInPandas node instead of
    round-tripping every blob JVM->Python->JVM->Python (guide §4)."""
    cols = ["media_id", "width", "height", "mean_r", "mean_g",
            "mean_b", "valid"]
    for b in batches:
        rows = []
        for mid, blob in zip(b["media_id"], b["blob"]):
            try:
                if blob is None:
                    raise ValueError("null blob")
                rgb = _decode_image_rgb(bytes(blob))
                h, w = rgb.shape[:2]
                npx = h * w
                sums = rgb.reshape(-1, 3).astype(np.int64).sum(axis=0)
                rows.append((
                    mid, w, h,
                    round(int(sums[0]) / npx, 6),
                    round(int(sums[1]) / npx, 6),
                    round(int(sums[2]) / npx, 6),
                    True,
                ))
            except Exception:  # noqa: BLE001 — invalid blob => row, not task failure
                rows.append((mid, None, None, None, None, None, False))
        yield pd.DataFrame(rows, columns=cols)


def _decode_audio(blob: bytes) -> tuple[int, int]:
    """(sample_rate, n_samples). FAKEAUD, real RIFF/WAV and MP3 all
    decode dependency-free: WAV via the chunk walk (``wav_metadata``),
    MP3 via the full frame walk (``mp3_frame_walk`` — exact VBR-safe
    sample count, 1152 samples per MPEG-1 Layer III frame). Compressed
    PCM *sample* decode (the MP3 synthesis filterbank) stays out of
    scope; metadata/duration is what the quality pipeline consumes."""
    if blob[:8] == AUD_MAGIC:
        return struct.unpack(">II", blob[8:16])
    wav = wav_metadata(blob)
    if wav is not None:
        return wav
    mp3 = mp3_frame_walk(blob)
    if mp3 is not None:
        return mp3
    raise NotImplementedError(
        "compressed audio decode unavailable in this container "
        "(soundfile); FAKEAUD1, WAV and MP3 frames decode natively"
    )


def image_metadata(df: DataFrame) -> DataFrame:
    """media table -> (media_id, width, height, n_bytes, valid); invalid
    blobs yield valid=false instead of failing the partition."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, blob in zip(b["media_id"], b["blob"]):
                try:
                    w, h = _decode_image(bytes(blob))
                    rows.append((mid, w, h, len(blob), True))
                except Exception:  # noqa: BLE001 — invalid blob => row, not task failure
                    rows.append((mid, None, None,
                                 len(blob) if blob is not None else 0, False))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "n_bytes", "valid"]
            )

    return df.select("media_id", "blob").mapInPandas(fn, IMAGE_META_SCHEMA)


def audio_metadata(df: DataFrame) -> DataFrame:
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, blob in zip(b["media_id"], b["blob"]):
                try:
                    rate, n = _decode_audio(bytes(blob))
                    # full-precision duration: a 6dp round can land on a
                    # half-tie where engines' rounding modes disagree;
                    # one exact double division is cross-engine stable
                    rows.append(
                        (mid, rate, n, n / rate if rate else None, True)
                    )
                except Exception:  # noqa: BLE001 — invalid blob => row, not task failure
                    rows.append((mid, None, None, None, False))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "n_samples",
                         "duration_sec", "valid"],
            )

    return df.select("media_id", "blob").mapInPandas(fn, AUDIO_META_SCHEMA)


def frame_sample_plan(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame-sampling *plan*: one output row per frame index to
    sample, computed from metadata only (native Columns — no decode).
    The decode of each sampled frame is the stubbed seam above."""
    return (
        df.withColumn(
            "frame_idx",
            F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))),
        )
        .select("media_id", "frame_idx")
    )


# ---------------------------------------------------------------------------
# real video headers: ISO BMFF / MP4 box walk (dependency-free)
# ---------------------------------------------------------------------------


def _mp4_boxes(buf: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for the boxes in
    buf[start:end] (ISO/IEC 14496-12: u32be size incl. 8-byte header;
    size==1 -> u64 largesize follows; size==0 -> box runs to end)."""
    i = start
    while i + 8 <= end:
        size = struct.unpack(">I", buf[i:i + 4])[0]
        typ = buf[i + 4:i + 8]
        if size == 1:
            if i + 16 > end:
                return
            size = struct.unpack(">Q", buf[i + 8:i + 16])[0]
            payload = i + 16
        elif size == 0:
            size = end - i
            payload = i + 8
        else:
            payload = i + 8
        if size < 8 or i + size > end:
            return
        yield typ, payload, i + size
        i += size


def mp4_metadata(blob: bytes) -> tuple[float, int, int | None, int | None] | None:
    """(duration_sec, n_tracks, width, height) from the moov box —
    mvhd gives timescale+duration (v0: u32s, v1: u64s), each trak's
    tkhd carries 16.16-fixed width/height (first nonzero wins). None if
    the blob is not ISO BMFF (no ftyp/moov at the top level)."""
    if len(blob) < 12:
        return None
    top = list(_mp4_boxes(blob, 0, len(blob)))
    if not top or top[0][0] != b"ftyp":
        return None
    duration_sec = 0.0
    n_tracks = 0
    width = height = None
    saw_moov = False
    for typ, p, q in top:
        if typ != b"moov":
            continue
        saw_moov = True
        for t2, p2, q2 in _mp4_boxes(blob, p, q):
            if t2 == b"mvhd" and q2 - p2 >= 20:
                ver = blob[p2]
                if ver == 1 and q2 - p2 >= 28:
                    ts = struct.unpack(">I", blob[p2 + 20:p2 + 24])[0]
                    dur = struct.unpack(">Q", blob[p2 + 24:p2 + 32])[0]
                else:
                    ts, dur = struct.unpack(">II", blob[p2 + 12:p2 + 20])
                duration_sec = dur / ts if ts else 0.0
            elif t2 == b"trak":
                n_tracks += 1
                for t3, p3, q3 in _mp4_boxes(blob, p2, q2):
                    if t3 != b"tkhd":
                        continue
                    ver = blob[p3]
                    off = p3 + (88 if ver == 1 else 76)
                    if q3 >= off + 8:
                        w = struct.unpack(">I", blob[off:off + 4])[0] >> 16
                        h = struct.unpack(">I", blob[off + 4:off + 8])[0] >> 16
                        if width is None and w:
                            width, height = w, h
    return (duration_sec, n_tracks, width, height) if saw_moov else None


def encode_min_mp4(
    timescale: int, duration: int, width: int, height: int
) -> bytes:
    """A minimal, spec-layout MP4 header (ftyp + moov[mvhd + trak[tkhd]])
    for fixtures — real offsets, real fixed-point fields."""
    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    mvhd = box(b"mvhd", bytes(4)                      # ver+flags
               + struct.pack(">II", 0, 0)             # creation, mod
               + struct.pack(">II", timescale, duration)
               + struct.pack(">I", 0x00010000)        # rate 1.0
               + struct.pack(">H", 0x0100) + bytes(2)  # volume + reserved
               + bytes(8) + bytes(36) + bytes(24)     # reserved/matrix/predef
               + struct.pack(">I", 2))                # next track id
    tkhd = box(b"tkhd", bytes(4)
               + struct.pack(">III", 0, 0, 1)         # creation, mod, id
               + bytes(4) + struct.pack(">I", duration)
               + bytes(8) + bytes(2) * 4 + bytes(36)  # layer/alt/vol/matrix
               + struct.pack(">II", width << 16, height << 16))
    moov = box(b"moov", mvhd + box(b"trak", tkhd))
    return ftyp + moov


VIDEO_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("duration_sec", T.DoubleType()),
    T.StructField("n_tracks", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("valid", T.BooleanType()),
])


def video_metadata(df: DataFrame) -> DataFrame:
    """media table -> per-video header metadata via the real MP4 box
    walk; non-BMFF/corrupt blobs yield valid=false rows (same partition
    streaming shape as image_metadata)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, blob in zip(b["media_id"], b["blob"]):
                meta = mp4_metadata(bytes(blob)) if blob is not None else None
                if meta is None:
                    rows.append((mid, None, None, None, None, False))
                else:
                    d, n, w, h = meta
                    rows.append((mid, d, n, w, h, True))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "duration_sec", "n_tracks", "width",
                         "height", "valid"],
            )

    return df.select("media_id", "blob").mapInPandas(fn, VIDEO_META_SCHEMA)


# ---------------------------------------------------------------------------
# real audio headers: WAV (RIFF) and MP3 (MPEG frame) — dependency-free
# ---------------------------------------------------------------------------


def wav_metadata(blob: bytes) -> tuple[int, int] | None:
    """(sample_rate, n_samples) from a RIFF/WAVE header: walk the
    chunks (4cc + u32le size), read fmt's sample-rate/block-align and
    size the data chunk in frames. None if not RIFF/WAVE."""
    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        return None
    i = 12
    n = len(blob)
    rate = block_align = None
    data_bytes = None
    while i + 8 <= n:
        cid = blob[i:i + 4]
        size = struct.unpack("<I", blob[i + 4:i + 8])[0]
        body = i + 8
        if cid == b"fmt " and size >= 16 and body + 16 <= n:
            _fmt, _ch, rate, _bps, block_align, _bits = struct.unpack(
                "<HHIIHH", blob[body:body + 16]
            )
        elif cid == b"data":
            # size may exceed the blob for a truncated capture — count
            # only the frames actually present
            data_bytes = min(size, n - body)
        i = body + size + (size & 1)  # chunks are word-aligned
    if rate and block_align and data_bytes is not None:
        return (rate, data_bytes // block_align)
    return None


def encode_wav(
    rate: int, samples, *, channels: int = 1, bits: int = 16
) -> bytes:
    """Spec-layout RIFF/WAVE PCM bytes for fixtures and sinks:
    fmt chunk (format 1 = integer PCM) + data chunk of little-endian
    interleaved samples. ``samples`` is an int sequence already in the
    target bit range."""
    sampwidth = bits // 8
    arr = np.asarray(samples)
    if bits == 16:
        data = arr.astype("<i2").tobytes()
    elif bits == 8:  # WAV 8-bit PCM is UNSIGNED with a 128 bias
        data = (arr + 128).astype("u1").tobytes()
    elif bits == 32:
        data = arr.astype("<i4").tobytes()
    else:
        raise ValueError(f"unsupported bits={bits}")
    block_align = channels * sampwidth
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * block_align, block_align, bits
    )
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def wav_samples_raw(blob: bytes):
    """(sample_rate, channels, norm, samples) from a RIFF/WAVE blob —
    the actual PCM SAMPLE decode (plain struct layouts, no codec):
    integer PCM 8 (unsigned, 128-biased) / 16 / 24 / 32-bit and IEEE
    float 32/64 all decode; samples come back as an int64 array
    (integer formats — EXACT, so downstream stats can stay in integer
    arithmetic) or float64 (float formats, norm=1), interleaved when
    multi-channel, with ``norm`` the full-scale divisor. None if the
    blob is not RIFF/WAVE or carries a compressed format."""
    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        return None
    i, n = 12, len(blob)
    fmt_code = rate = channels = bits = None
    data = None
    while i + 8 <= n:
        cid = blob[i:i + 4]
        size = struct.unpack("<I", blob[i + 4:i + 8])[0]
        body = i + 8
        if cid == b"fmt " and size >= 16 and body + 16 <= n:
            fmt_code, channels, rate, _bps, _ba, bits = struct.unpack(
                "<HHIIHH", blob[body:body + 16]
            )
        elif cid == b"data":
            data = blob[body:min(body + size, n)]
        i = body + size + (size & 1)
    if rate is None or data is None:
        return None
    if fmt_code == 1:  # integer PCM
        if bits == 16:
            x = np.frombuffer(data[:len(data) // 2 * 2], dtype="<i2")
        elif bits == 8:
            x = np.frombuffer(data, dtype="u1").astype(np.int64) - 128
        elif bits == 32:
            x = np.frombuffer(data[:len(data) // 4 * 4], dtype="<i4")
        elif bits == 24:
            b3 = np.frombuffer(data[:len(data) // 3 * 3], dtype=np.uint8)
            b3 = b3.reshape(-1, 3).astype(np.int64)
            x = b3[:, 0] | (b3[:, 1] << 8) | (b3[:, 2] << 16)
            x = np.where(x >= 1 << 23, x - (1 << 24), x)
        else:
            return None
        return (rate, channels, float(1 << (bits - 1)),
                np.asarray(x, dtype=np.int64))
    if fmt_code == 3:  # IEEE float
        if bits == 32:
            x = np.frombuffer(data[:len(data) // 4 * 4], dtype="<f4")
        elif bits == 64:
            x = np.frombuffer(data[:len(data) // 8 * 8], dtype="<f8")
        else:
            return None
        return (rate, channels, 1.0, np.asarray(x, dtype=np.float64))
    return None  # compressed (ADPCM/mu-law/...) — out of scope


def _exact_ssq(x: np.ndarray) -> int:
    """Exact integer sum of squares for PCM samples of any width.

    A single int64 dot is exact only while |sample| < 2^16: 24-bit PCM
    wraps int64 after ~3 s of full-scale 44.1 kHz audio (n*2^46) and
    32-bit after two samples (2^62 each). For wider samples split each
    |x| = hi*2^16 + lo and combine three overflow-safe int64 partial
    dots as arbitrary-precision Python ints:
    sum(x^2) = sum(hi^2)<<32 + sum(hi*lo)<<17 + sum(lo^2)
    (hi <= 2^15 so each partial is <= n*2^32 — safe to n ~ 2^30)."""
    a = np.abs(np.asarray(x, dtype=np.int64))
    if a.size == 0:
        return 0
    if int(a.max()) < (1 << 16):
        return int(np.dot(a, a))
    hi = a >> 16
    lo = a & 0xFFFF
    return (
        (int(np.dot(hi, hi)) << 32)
        + (int(np.dot(hi, lo)) << 17)
        + int(np.dot(lo, lo))
    )


AUDIO_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("duration_sec", T.DoubleType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak", T.DoubleType()),
    T.StructField("zcr", T.DoubleType()),
    T.StructField("valid", T.BooleanType()),
])


def audio_features(df: DataFrame) -> DataFrame:
    """REAL audio features from WAV PCM sample decode (media table ->
    one feature row per blob): rms energy, peak amplitude, zero-crossing
    rate, duration. Integer PCM stats are computed in EXACT integer
    arithmetic (``_exact_ssq`` split-dot sum of squares — safe at
    24/32-bit widths where a plain int64 dot wraps — abs-max,
    sign-change count) with one
    final float division/sqrt, so results are bit-stable across
    engines/batch orders — the property the DuckDB oracle query checks.
    Non-WAV / compressed blobs yield valid=false rows. Same streaming
    shape as the other extractors: mapInPandas, blob dropped before any
    shuffle."""
    return df.select("media_id", "blob").mapInPandas(
        audio_features_batches, AUDIO_FEATURE_SCHEMA
    )


def audio_features_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Batch transform behind :func:`audio_features` (see
    :func:`image_pixel_stats_batches` for why it is exposed)."""
    cols = ["media_id", "sample_rate", "n_samples", "duration_sec",
            "rms", "peak", "zcr", "valid"]
    for b in batches:
        rows = []
        for mid, blob in zip(b["media_id"], b["blob"]):
            raw = wav_samples_raw(bytes(blob)) if blob is not None else None
            if raw is None or raw[3].size == 0:
                rows.append((mid, None, None, None, None, None, None,
                             False))
                continue
            rate, channels, norm, x = raw
            if channels > 1:  # average to mono (float path)
                x = (
                    x[:x.size // channels * channels]
                    .reshape(-1, channels).astype(np.float64)
                    .mean(axis=1)
                )
            nsamp = int(x.size)
            if np.issubdtype(x.dtype, np.integer):
                ssq = _exact_ssq(x)  # exact at any PCM width
                pk = int(np.abs(np.asarray(x, np.int64)).max())
            else:
                ssq = float(np.dot(x, x))
                pk = float(np.abs(x).max())
            nonneg = x >= 0
            trans = int(np.count_nonzero(nonneg[1:] != nonneg[:-1]))
            rows.append((
                mid, rate, nsamp, nsamp / rate,
                round(float(np.sqrt(ssq / nsamp)) / norm, 6),
                round(pk / norm, 6),
                round(trans / (nsamp - 1), 6) if nsamp > 1 else 0.0,
                True,
            ))
        yield pd.DataFrame(rows, columns=cols)


_MP3_BITRATES = (  # kbps, MPEG-1 Layer III
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0
)
_MP3_RATES = (44100, 48000, 32000, 0)  # MPEG-1


def _skip_id3(blob: bytes) -> int:
    if blob[:3] == b"ID3" and len(blob) >= 10:
        ss = blob[6:10]
        return 10 + ((ss[0] & 0x7F) << 21 | (ss[1] & 0x7F) << 14
                     | (ss[2] & 0x7F) << 7 | (ss[3] & 0x7F))
    return 0


def mp3_frame_header(blob: bytes) -> tuple[int, int] | None:
    """(sample_rate, bitrate_kbps) from the first MPEG-1 Layer III
    frame sync (11 set bits; version/layer/bitrate/rate fields per the
    MPEG audio frame header layout). ID3v2 tags are skipped via their
    syncsafe length. None when no valid frame is found."""
    i = _skip_id3(blob)
    n = len(blob)
    while i + 4 <= n:
        if blob[i] == 0xFF and (blob[i + 1] & 0xE0) == 0xE0:
            version = (blob[i + 1] >> 3) & 0x3
            layer = (blob[i + 1] >> 1) & 0x3
            if version == 3 and layer == 1:  # MPEG-1 Layer III
                br = _MP3_BITRATES[(blob[i + 2] >> 4) & 0xF]
                sr = _MP3_RATES[(blob[i + 2] >> 2) & 0x3]
                if br and sr:
                    return (sr, br)
        i += 1
    return None


MP3_SAMPLES_PER_FRAME = 1152  # MPEG-1 Layer III


def mp3_frame_walk(blob: bytes) -> tuple[int, int] | None:
    """(sample_rate, n_samples) by WALKING every MPEG-1 Layer III frame
    (frame length = 144 * bitrate / sample_rate + padding, per the MPEG
    audio spec; each frame decodes to 1152 PCM samples per channel).
    This is the exact per-file sample count VBR files need — the single
    first-frame header can't give it. Leading junk/padding after the
    ID3v2 tag (common in stream rips) is skipped by scanning forward to
    the first valid frame sync — the same search ``mp3_frame_header``
    does, so the two decoders accept the same blobs. From there frames
    must be contiguous: the walk stops at the first byte that is not a
    valid frame sync (truncated tail tolerated, trailing ID3v1 'TAG'
    block skipped). None when no frame parses."""
    i = _skip_id3(blob)
    n = len(blob)
    # scan forward to the first valid MPEG-1 Layer III header
    while i + 4 <= n:
        if blob[i] == 0xFF and (blob[i + 1] & 0xE0) == 0xE0:
            if ((blob[i + 1] >> 3) & 0x3) == 3 and ((blob[i + 1] >> 1) & 0x3) == 1:
                if (_MP3_BITRATES[(blob[i + 2] >> 4) & 0xF]
                        and _MP3_RATES[(blob[i + 2] >> 2) & 0x3]):
                    break
        i += 1
    frames = 0
    rate = None
    while i + 4 <= n:
        if not (blob[i] == 0xFF and (blob[i + 1] & 0xE0) == 0xE0):
            break
        version = (blob[i + 1] >> 3) & 0x3
        layer = (blob[i + 1] >> 1) & 0x3
        if version != 3 or layer != 1:
            break
        br = _MP3_BITRATES[(blob[i + 2] >> 4) & 0xF]
        sr = _MP3_RATES[(blob[i + 2] >> 2) & 0x3]
        pad = (blob[i + 2] >> 1) & 0x1
        if not br or not sr or (rate is not None and sr != rate):
            break
        rate = sr
        frames += 1
        i += (144 * br * 1000) // sr + pad
    if frames == 0 or rate is None:
        return None
    return (rate, frames * MP3_SAMPLES_PER_FRAME)
