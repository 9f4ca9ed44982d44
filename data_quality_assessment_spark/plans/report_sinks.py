"""Presentation sinks: PNG plots (S7) + PDF report (S6), dependency-free.

The reference renders its six scores and IAT distributions with
matplotlib/pygal/fpdf (``/root/reference/scripts/PreProcessing.py:169-417``,
``DQReportGenerator.py:248-609``); none of those ship in this container,
so these sinks implement the two FORMATS directly from the stdlib:

  * PNG: zlib-compressed scanlines in IHDR/IDAT/IEND chunks (the spec's
    minimal truecolor form) over a numpy RGB raster. Four charts are
    drawn, the ones ``reference_report_artifacts`` writes: score bars and
    the IAT histogram (filled rectangles plus a tiny built-in 5x7 glyph
    font), the six-score radar and the average-score gauge. The
    reference's other plots (per-entity bars, donut, box, scatter) are
    display-only and not reproduced.
  * PDF: a single-xref document with Helvetica text lines and the score
    chart embedded as a /FlateDecode /DeviceRGB Image XObject (raw RGB,
    no JPEG needed).

These are thin CONSUMERS of the metrics tables — the machine-readable
contract stays the DataFrames/JSON (SURVEY.md §2.1) — but they complete
the reference's artifact surface: ``reference_report_artifacts`` writes
the same trio (PNG plots + PDF + JSON) the reference's generator does.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# PNG (S7)
# ---------------------------------------------------------------------------


def encode_png(rgb: np.ndarray) -> bytes:
    """HxWx3 uint8 array -> truecolor PNG bytes (filter 0 scanlines)."""
    if rgb.dtype != np.uint8 or rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("expected HxWx3 uint8")
    h, w = rgb.shape[:2]
    raw = b"".join(b"\x00" + rgb[y].tobytes() for y in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )


def write_png(path: str, rgb: np.ndarray) -> None:
    """Write an HxWx3 uint8 array as a truecolor PNG."""
    with open(path, "wb") as f:
        f.write(encode_png(rgb))


# tiny 5x7 font: digits, uppercase, and the chars the labels need.
# each glyph = 7 rows x 5 bits, packed as 7 hex bytes (MSB = left pixel)
_GLYPHS: dict[str, str] = {
    "0": "0e11131519110e", "1": "040c040404040e", "2": "0e11010206081f",
    "3": "0e11010601110e", "4": "02060a121f0202", "5": "1f101e0101110e",
    "6": "0608101e11110e", "7": "1f010204080808", "8": "0e11110e11110e",
    "9": "0e11110f010204", "A": "0e11111f111111", "B": "1e111e11111e00",
    "C": "0e11101010110e", "D": "1e11111111111e", "E": "1f10101e10101f",
    "F": "1f10101e101010", "G": "0e11101711110e", "H": "11111f11111111",
    "I": "0e04040404040e", "J": "0702020212120c",
    "K": "11121418141211", "L": "1010101010101f", "M": "111b1515111111",
    "N": "11191513111111", "O": "0e11111111110e",
    "P": "1e11111e101010", "Q": "0e111111150e03", "R": "1e11111e141211",
    "S": "0f10100e01011e", "T": "1f040404040404", "U": "1111111111110e",
    "V": "111111110a0a04", "W": "11111115151b11",
    "X": "11110a040a1111", "Y": "11110a04040404", "Z": "1f01020408101f",
    ".": "00000000000c0c", "-": "0000001f000000", " ": "00000000000000",
    "_": "0000000000001f", "%": "19190204081313",
}


def _draw_text(img: np.ndarray, x: int, y: int, text: str,
               color=(20, 20, 20), scale: int = 1) -> None:
    for ch in text.upper():
        glyph = _GLYPHS.get(ch)
        if glyph is None:
            glyph = _GLYPHS[" "]
        rows = [int(glyph[i * 2:i * 2 + 2], 16) for i in range(7)]
        for r, bits in enumerate(rows):
            for c in range(5):
                if bits & (1 << (4 - c)):
                    y0, x0 = y + r * scale, x + c * scale
                    img[y0:y0 + scale, x0:x0 + scale] = color
        x += 6 * scale


def render_score_bars(scores: dict[str, float],
                      width: int = 640) -> np.ndarray:
    """Horizontal bar chart of [0,1] scores (the reference's six-metric
    bar/radar analog)."""
    row_h, pad, label_w = 26, 10, 200
    h = pad * 2 + row_h * len(scores) + 14
    img = np.full((h, width, 3), 255, np.uint8)
    chart_w = width - label_w - 60
    for i, (name, val) in enumerate(scores.items()):
        y = pad + i * row_h
        _draw_text(img, 8, y + 7, name[:30])
        v = max(0.0, min(1.0, float(val)))
        img[y + 4:y + row_h - 6, label_w:label_w + int(v * chart_w)] = (
            (70, 130, 180)
        )
        img[y + 4:y + row_h - 6, label_w + chart_w:label_w + chart_w + 1] = (
            (180, 180, 180)
        )
        _draw_text(img, label_w + chart_w + 8, y + 7, f"{val:.3f}")
    return img


def render_histogram(values, bins: int = 30, width: int = 640,
                     height: int = 240, title: str = "") -> np.ndarray:
    """Bar histogram of a numeric sequence (the reference's IAT
    hist/box plot analog)."""
    img = np.full((height, width, 3), 255, np.uint8)
    vals = np.asarray(list(values), dtype=np.float64)
    if title:
        _draw_text(img, 8, 6, title[:60])
    if len(vals) == 0:
        return img
    counts, _edges = np.histogram(vals, bins=bins)
    top = counts.max() or 1
    plot_h, base = height - 40, height - 12
    bw = (width - 20) // bins
    for b, c in enumerate(counts):
        bh = int(plot_h * c / top)
        x0 = 10 + b * bw
        img[base - bh:base, x0:x0 + bw - 1] = (70, 130, 180)
    return img


# ---------------------------------------------------------------------------
# radar and gauge (the reference's ``scripts/PreProcessing.py:169-417``,
# rendered there with matplotlib+pygal; here: numpy rasters over the same
# PNG sink)
# ---------------------------------------------------------------------------

_BLUE = (70, 130, 180)


def _fill_polygon(img: np.ndarray, pts: list[tuple[float, float]],
                  color) -> None:
    """Scanline even-odd polygon fill (the classic algorithm — no
    drawing library in this container)."""
    h, w = img.shape[:2]
    ys = [p[1] for p in pts]
    y0, y1 = max(0, int(min(ys))), min(h - 1, int(max(ys)) + 1)
    n = len(pts)
    for y in range(y0, y1 + 1):
        xs = []
        for i in range(n):
            (xa, ya), (xb, yb) = pts[i], pts[(i + 1) % n]
            if (ya <= y < yb) or (yb <= y < ya):
                xs.append(xa + (y - ya) * (xb - xa) / (yb - ya))
        xs.sort()
        for j in range(0, len(xs) - 1, 2):
            a, b = int(max(0, xs[j])), int(min(w - 1, xs[j + 1]))
            if b >= a:
                img[y, a:b + 1] = color


def _draw_line(img: np.ndarray, x0: float, y0: float, x1: float, y1: float,
               color, thick: int = 1) -> None:
    n = int(max(abs(x1 - x0), abs(y1 - y0))) + 1
    xs = np.linspace(x0, x1, n).astype(int)
    ys = np.linspace(y0, y1, n).astype(int)
    h, w = img.shape[:2]
    t = thick // 2
    for x, y in zip(xs, ys):
        img[max(0, y - t):min(h, y + t + 1),
            max(0, x - t):min(w, x + t + 1)] = color


def render_radar(scores: dict[str, float], size: int = 420) -> np.ndarray:
    """Spider/radar chart of [0,1] scores — the reference's six-metric
    radar (``PreProcessing.py`` radar path): one axis per metric,
    filled value polygon, 25/50/75/100% reference rings."""
    img = np.full((size, size, 3), 255, np.uint8)
    cx = cy = size // 2
    rad = size // 2 - 60
    names = list(scores)
    n = max(len(names), 1)
    ang = [(-np.pi / 2 + 2 * np.pi * i / n) for i in range(n)]
    # reference rings + axes
    for frac in (0.25, 0.5, 0.75, 1.0):
        ring = [(cx + frac * rad * np.cos(a), cy + frac * rad * np.sin(a))
                for a in ang]
        for i in range(n):
            x0, y0 = ring[i]
            x1, y1 = ring[(i + 1) % n]
            _draw_line(img, x0, y0, x1, y1, (210, 210, 210))
    for a in ang:
        _draw_line(img, cx, cy, cx + rad * np.cos(a), cy + rad * np.sin(a),
                   (180, 180, 180))
    # value polygon (semi-"transparent" fill: lighten, then outline)
    pts = []
    for a, name in zip(ang, names):
        v = max(0.0, min(1.0, float(scores[name])))
        pts.append((cx + v * rad * np.cos(a), cy + v * rad * np.sin(a)))
    if len(pts) >= 3:
        overlay = img.copy()
        _fill_polygon(overlay, pts, (164, 196, 220))
        img[:] = overlay
        for i in range(len(pts)):
            x0, y0 = pts[i]
            x1, y1 = pts[(i + 1) % len(pts)]
            _draw_line(img, x0, y0, x1, y1, _BLUE, thick=2)
    for a, name in zip(ang, names):
        lx = cx + (rad + 10) * np.cos(a)
        ly = cy + (rad + 10) * np.sin(a)
        lab = name[:12]
        if np.cos(a) < -0.3:
            lx -= 6 * len(lab)
        _draw_text(img, int(lx), int(ly) - 3, lab)
    return img


def render_gauge(value: float, title: str = "", size: int = 360) -> np.ndarray:
    """Semicircular gauge for one [0,1] score (the reference's gauge
    path): grey track, value arc sweeping left -> right, needle, value
    text."""
    h = size // 2 + 60
    img = np.full((h, size, 3), 255, np.uint8)
    cx, cy = size // 2, size // 2 + 10
    r1 = size // 2 - 20
    r0 = int(r1 * 0.7)
    v = max(0.0, min(1.0, float(value)))
    yy, xx = np.mgrid[0:h, 0:size]
    dx, dy = xx - cx, yy - cy
    rr = np.hypot(dx, dy)
    # angle 0 at left horizon, pi at right horizon, upper half only
    theta = np.mod(np.arctan2(-dy, -dx), 2 * np.pi)
    upper = (dy <= 0) & (rr >= r0) & (rr <= r1)
    img[upper & (theta <= np.pi)] = (225, 225, 225)
    img[upper & (theta <= v * np.pi)] = _BLUE
    na = v * np.pi
    _draw_line(img, cx, cy, cx - (r0 - 6) * np.cos(na),
               cy - (r0 - 6) * np.sin(na), (60, 60, 60), thick=3)
    if title:
        _draw_text(img, 10, 8, title[:40])
    _draw_text(img, cx - 18, cy + 14, f"{v:.3f}")
    return img


# ---------------------------------------------------------------------------
# PDF (S6)
# ---------------------------------------------------------------------------


def write_pdf_report(
    path: str,
    title: str,
    lines: list[str],
    chart_rgb: np.ndarray | None = None,
) -> None:
    """Single-page PDF: title + text lines + optional embedded chart
    (raw RGB, FlateDecode — no image libraries)."""

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    content = ["BT /F1 16 Tf 54 760 Td (" + esc(title) + ") Tj ET"]
    y = 720
    for ln in lines:
        content.append(f"BT /F1 10 Tf 54 {y} Td (" + esc(ln) + ") Tj ET")
        y -= 16
    objs: dict[int, bytes] = {}
    resources = "<< /Font << /F1 4 0 R >>"
    if chart_rgb is not None:
        h, w = chart_rgb.shape[:2]
        # place below the text block, scaled to 480pt wide
        disp_w = 480
        disp_h = int(h * disp_w / w)
        y_img = max(40, y - disp_h - 10)
        content.append(
            f"q {disp_w} 0 0 {disp_h} 54 {y_img} cm /Im1 Do Q"
        )
        img_data = zlib.compress(chart_rgb.tobytes(), 9)
        objs[5] = (
            f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
            "/ColorSpace /DeviceRGB /BitsPerComponent 8 "
            f"/Filter /FlateDecode /Length {len(img_data)} >>\nstream\n"
        ).encode() + img_data + b"\nendstream"
        resources += " /XObject << /Im1 5 0 R >>"
    resources += " >>"

    stream = "\n".join(content).encode()
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
    objs[3] = (
        "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        f"/Resources {resources} /Contents 6 0 R >>"
    ).encode()
    objs[4] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    objs[6] = (
        f"<< /Length {len(stream)} >>\nstream\n".encode()
        + stream + b"\nendstream"
    )

    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    n = max(objs) + 1
    out += f"xref\n0 {n}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, n):
        off = offsets.get(num, 0)
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {n} /Root 1 0 R >>\nstartxref\n{xref_at}\n"
        "%%EOF\n"
    ).encode()
    with open(path, "wb") as f:
        f.write(bytes(out))


# ---------------------------------------------------------------------------
# glue: the reference generator's artifact trio from a report row
# ---------------------------------------------------------------------------

SCORE_FIELDS = [
    ("dupe", "ABSENCE OF DUPLICATES"),
    ("regularity", "IAT REGULARITY"),
    ("outliers", "IAT OUTLIERS"),
    ("format_adherence", "FORMAT ADHERENCE"),
    ("unknown_absence", "UNKNOWN ATTR ABSENCE"),
    ("completeness", "COMPLETENESS"),
]


def reference_report_artifacts(report_row, out_dir: str,
                               iat_values=None) -> dict[str, str]:
    """Write the PNG chart(s) + PDF + JSON for a ``reference_report``
    row (plans/report.py) — the full S5+S6+S7 artifact set."""
    import json
    import os

    os.makedirs(out_dir, exist_ok=True)
    d = report_row.asDict() if hasattr(report_row, "asDict") else dict(report_row)
    scores = {label: float(d[k]) for k, label in SCORE_FIELDS}
    chart = render_score_bars(scores)
    paths = {
        "scores_png": os.path.join(out_dir, "scores.png"),
        "radar_png": os.path.join(out_dir, "radar.png"),
        "gauge_png": os.path.join(out_dir, "gauge.png"),
        "report_pdf": os.path.join(out_dir, "report.pdf"),
        "report_json": os.path.join(out_dir, "report.json"),
    }
    write_png(paths["scores_png"], chart)
    write_png(paths["radar_png"], render_radar(scores))
    write_png(paths["gauge_png"],
              render_gauge(float(d.get("avg_score", 0.0)), "AVG SCORE"))
    if iat_values is not None:
        paths["iat_png"] = os.path.join(out_dir, "iat_hist.png")
        write_png(paths["iat_png"],
                  render_histogram(iat_values, title="IAT SECONDS"))
    lines = [
        f"PACKETS {d.get('n_packets', '')}   "
        f"{d.get('start_time', '')} - {d.get('end_time', '')}",
        f"AVG SCORE {d.get('avg_score', '')}",
    ] + [f"{label}  {scores[label]:.6f}" for _k, label in SCORE_FIELDS]
    write_pdf_report(paths["report_pdf"], "DATA QUALITY REPORT", lines, chart)
    with open(paths["report_json"], "w") as f:
        json.dump(d, f, indent=2, default=str)
    return paths
