"""Adversarial-input hardening for the media decoders.

A web crawl feeds the extractors arbitrary bytes; the contract is that
every decoder either returns a result, returns None (wrong magic), or
raises an ordinary exception the mapInPandas extractors convert to a
valid=false row — never a hang, never an allocation driven by DECLARED
(attacker-controlled) sizes rather than actual payload bytes."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from data_quality_assessment_spark.functions import multimodal as mm
from data_quality_assessment_spark.functions import jpeg as J

DECODERS = [
    mm.png_pixels,
    mm.gif_pixels,
    J.jpeg_pixels,
    mm.wav_samples_raw,
    mm.mp3_frame_walk,
]

MAGICS = [
    b"\x89PNG\r\n\x1a\n",
    b"GIF89a",
    b"\xff\xd8\xff\xe0",
    b"RIFF\x00\x00\x00\x00WAVE",
    b"ID3",
    b"\xff\xfb",
]


@settings(max_examples=200, deadline=2000)
@given(st.binary(min_size=0, max_size=300))
def test_random_bytes_never_crash_the_process(blob):
    for dec in DECODERS:
        try:
            dec(blob)
        except Exception:  # noqa: BLE001 — any exception => valid=false row
            pass


@settings(max_examples=200, deadline=2000)
@given(st.sampled_from(MAGICS), st.binary(min_size=0, max_size=300))
def test_magic_prefixed_garbage_never_crashes(magic, tail):
    blob = magic + tail
    for dec in DECODERS:
        try:
            dec(blob)
        except Exception:  # noqa: BLE001
            pass


@settings(max_examples=120, deadline=4000)
@given(st.integers(0, 2000), st.integers(0, 255))
def test_mutated_valid_fixtures_never_crash(pos, val):
    """Flip one byte anywhere in valid PNG/GIF/JPEG/WAV fixtures."""
    fixtures = [
        J.encode_dc_jpeg(16, 16, 40),
        J.encode_dc_progressive(16, 16, 40),
        mm.encode_wav(8000, np.arange(-500, 500, dtype=np.int64)),
    ]
    for blob in fixtures:
        b = bytearray(blob)
        b[pos % len(b)] = val
        for dec in DECODERS:
            try:
                dec(bytes(b))
            except Exception:  # noqa: BLE001
                pass


def test_declared_dimension_bombs_rejected_cheaply():
    """Headers declaring enormous dims must raise, not allocate."""
    # PNG 60000x60000 RGB (3.6e9 px -> would be ~10.8 GB)
    ihdr = struct.pack(">IIBBBBB", 60000, 60000, 8, 2, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n"
           + struct.pack(">I", 13) + b"IHDR" + ihdr + b"\x00" * 4
           + struct.pack(">I", 0) + b"IEND" + b"\x00" * 4)
    with pytest.raises(ValueError, match="bomb guard"):
        mm.png_pixels(png)
    # GIF 65535x65535
    gif = (b"GIF89a" + struct.pack("<HH", 65535, 65535) + bytes([0x80, 0, 0])
           + bytes(6)  # 2-entry global color table
           + b"\x2c" + struct.pack("<4H", 0, 0, 65535, 65535) + b"\x00"
           + b"\x02\x00\x3b")
    with pytest.raises(ValueError, match="bomb guard"):
        mm.gif_pixels(gif)
    # JPEG 65500x65500
    jpg = (b"\xff\xd8"
           + b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 65500, 65500, 1)
           + bytes([1, 0x11, 0]))
    with pytest.raises(ValueError, match="bomb guard"):
        J.jpeg_pixels(jpg + b"\xff\xd9")


def test_png_zlib_bomb_capped():
    """An IDAT inflating far past the declared dims must not allocate
    the inflated size — decode fails on the short (capped) stream."""
    w, h = 4, 4
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * 50_000_000, 9)  # ~48 KB compressed

    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + b"\x00" * 4

    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", bomb) + chunk(b"IEND", b""))
    # decodes the first h*(3w+1) inflated bytes only: a valid all-zero
    # image comes back (filters 0, black pixels) without a 50 MB buffer
    out = mm.png_pixels(png)
    assert out.shape == (h, w, 3)
    assert (out == 0).all()
