"""WARC ingest: spec-layout round trip (plain + per-record-gzip like
Common Crawl), truncated-file tolerance and HTTP block parsing."""

from __future__ import annotations

import datetime as dt

from data_quality_assessment_spark.sources import warc


def _recs():
    base = dt.datetime(2023, 5, 1, 12, 0, 0)
    return [
        ("https://a.example/x", base, b"<html><body>hello a</body></html>"),
        ("https://b.example/y", base + dt.timedelta(seconds=5),
         "<html><body>unicode é中</body></html>".encode()),
        ("https://c.example/z", base + dt.timedelta(seconds=9), b""),
    ]


def test_roundtrip_plain():
    raw = warc.write_warc(_recs())
    rows = warc.records_from_file_bytes(raw)
    assert len(rows) == 3
    for (url, ts, body), row in zip(_recs(), rows):
        assert row[0] == url
        assert row[1] == ts
        assert row[2] == "response"
        assert row[3] == "text/html"
        assert row[4] == 200
        assert row[5] == body


def test_roundtrip_gzip_members():
    """CC-style .warc.gz: concatenated per-record gzip members."""
    raw = warc.write_warc(_recs(), compress=True)
    assert raw[:2] == b"\x1f\x8b"
    rows = warc.records_from_file_bytes(raw)
    assert [r[0] for r in rows] == [u for u, _, _ in _recs()]


def test_truncated_file_yields_prefix():
    raw = warc.write_warc(_recs())
    cut = raw[: int(len(raw) * 0.6)]  # inside record 2's block
    rows = warc.records_from_file_bytes(cut)
    assert 1 <= len(rows) < 3
    assert rows[0][0] == "https://a.example/x"


def test_non_http_block_passthrough():
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: warcinfo\r\n"
        b"Content-Type: application/warc-fields\r\n"
        b"Content-Length: 9\r\n\r\n"
        b"robots: x"
        b"\r\n\r\n"
    )
    rows = warc.records_from_file_bytes(rec)
    assert rows[0][2] == "warcinfo"
    assert rows[0][4] is None
    assert rows[0][5] == b"robots: x"

