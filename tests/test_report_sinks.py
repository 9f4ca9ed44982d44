"""PNG (S7) / PDF (S6) presentation sinks — dependency-free format
writers verified structurally: PNG round-trips bit-exact through the
reader below (signature, IHDR, zlib scanlines), the PDF carries a
valid xref/trailer and the embedded FlateDecode image decompresses to
the chart raster."""

from __future__ import annotations

import re
import struct
import zlib

import numpy as np

from data_quality_assessment_spark.plans import report_sinks as rs


def read_png(path: str) -> np.ndarray:
    """Inverse of ``rs.write_png``: 8-bit RGB, filter-0 scanlines only."""
    with open(path, "rb") as f:
        data = f.read()
    assert data[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
    pos, w = 8, None
    idat = b""
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
            assert (depth, ctype) == (8, 2), "only 8-bit RGB supported"
        elif tag == b"IDAT":
            idat += body
        pos += 12 + ln
    raw = zlib.decompress(idat)
    stride = w * 3 + 1
    rows = [raw[i * stride + 1:(i + 1) * stride] for i in range(h)]
    assert all(raw[i * stride] == 0 for i in range(h)), "filters unsupported"
    return np.frombuffer(b"".join(rows), np.uint8).reshape(h, w, 3)


def test_png_roundtrip(tmp_path):
    rng = np.random.RandomState(0)
    img = rng.randint(0, 256, (23, 41, 3), dtype=np.uint8)
    p = str(tmp_path / "x.png")
    rs.write_png(p, img)
    back = read_png(p)
    assert back.shape == img.shape and (back == img).all()
    with open(p, "rb") as f:
        head = f.read(8)
    assert head == b"\x89PNG\r\n\x1a\n"


def test_score_bars_render(tmp_path):
    scores = {"DUPE": 1.0, "REGULARITY": 0.183, "OUTLIERS": 0.921}
    img = rs.render_score_bars(scores)
    assert img.ndim == 3 and img.shape[2] == 3
    # bars actually drawn: blue pixels present, more for 1.0 than 0.183
    blue = (img == np.array([70, 130, 180], np.uint8)).all(axis=2)
    rows = np.flatnonzero(blue.any(axis=1))
    assert len(rows) > 0
    per_row = blue.sum(axis=1)
    assert per_row.max() > 3 * per_row[per_row > 0].min()
    rs.write_png(str(tmp_path / "s.png"), img)


def test_histogram_render():
    img = rs.render_histogram([1, 1, 1, 2, 3, 10], bins=10, title="IAT")
    blue = (img == np.array([70, 130, 180], np.uint8)).all(axis=2)
    assert blue.sum() > 0
    empty = rs.render_histogram([], bins=10)
    assert (empty == 255).all()


def test_pdf_structure_and_embedded_image(tmp_path):
    img = rs.render_score_bars({"A": 0.5, "B": 1.0})
    p = str(tmp_path / "r.pdf")
    rs.write_pdf_report(p, "DATA QUALITY REPORT", ["LINE ONE", "SCORE 0.5"],
                        img)
    data = open(p, "rb").read()
    assert data.startswith(b"%PDF-1.4")
    assert data.rstrip().endswith(b"%%EOF")
    assert b"/Type /Catalog" in data and b"xref" in data
    # xref offsets must point at the right objects
    m = re.search(rb"startxref\n(\d+)\n", data)
    xref_at = int(m.group(1))
    assert data[xref_at:xref_at + 4] == b"xref"
    # embedded image stream decompresses to the exact raster bytes
    m = re.search(
        rb"/Subtype /Image .*?/Length (\d+) >>\nstream\n", data, re.S
    )
    start = m.end()
    raw = zlib.decompress(data[start:start + int(m.group(1))])
    assert raw == img.tobytes()


def test_reference_report_artifacts(tmp_path):
    row = {
        "n_packets": 5000, "start_time": "2022-01-01 10:10:35",
        "end_time": "2022-01-01 10:41:03", "avg_score": 0.826,
        "dupe": 1.0, "regularity": 0.183, "outliers": 0.921,
        "format_adherence": 0.8646, "unknown_absence": 1.0,
        "completeness": 0.9890615384615384,
    }
    paths = rs.reference_report_artifacts(
        row, str(tmp_path / "arts"), iat_values=[1.0, 2.0, 2.0, 30.0]
    )
    import json
    import os

    for k in ("scores_png", "iat_png", "report_pdf", "report_json"):
        assert os.path.getsize(paths[k]) > 100, k
    assert read_png(paths["scores_png"]).shape[2] == 3
    doc = json.load(open(paths["report_json"]))
    assert doc["dupe"] == 1.0


def test_radar_render(tmp_path):
    """Radar polygon area grows with the scores; six labeled axes."""
    hi = rs.render_radar({f"M{i}": 0.9 for i in range(6)})
    lo = rs.render_radar({f"M{i}": 0.2 for i in range(6)})
    fill = np.array([164, 196, 220], np.uint8)
    n_hi = (hi == fill).all(axis=2).sum()
    n_lo = (lo == fill).all(axis=2).sum()
    assert n_hi > 4 * n_lo > 0
    rs.write_png(str(tmp_path / "r.png"), hi)
    assert (read_png(str(tmp_path / "r.png")) == hi).all()


def test_gauge_render():
    """Value arc sweeps proportionally: 0.75 colors ~3x the arc of
    0.25; needle and value text present."""
    q1 = rs.render_gauge(0.25)
    q3 = rs.render_gauge(0.75)
    blue = np.array([70, 130, 180], np.uint8)
    n1 = (q1 == blue).all(axis=2).sum()
    n3 = (q3 == blue).all(axis=2).sum()
    assert 2.0 < n3 / n1 < 4.0
    # full-gauge track exists beyond the value arc
    grey = (q1 == np.array([225, 225, 225], np.uint8)).all(axis=2).sum()
    assert grey > n1

