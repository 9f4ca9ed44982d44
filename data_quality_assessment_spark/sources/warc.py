"""WARC (ISO 28500) ingest — the format Common Crawl actually ships.

Raw crawls arrive as ``.warc`` / ``.warc.gz`` files of concatenated
records:

    WARC/1.0\\r\\n
    <Name>: <value>\\r\\n ...          (WARC-Type, WARC-Target-URI,
    \\r\\n                              WARC-Date, Content-Length, ...)
    <Content-Length bytes of block>
    \\r\\n\\r\\n

``response`` records carry an HTTP response in the block (status line +
headers + body); CC ``.warc.gz`` files are per-record gzip MEMBERS
concatenated — Python's gzip transparently decompresses the
concatenation, so one decompress pass per file suffices.

Scale shape: WARC is not line-splittable (records span arbitrary byte
ranges; CC publishes ~1 GB files, well under an executor's memory), so
the unit of work is one whole file. ``iter_rows_from_file_bytes`` parses
a file's bytes in one streaming pass into rows of ``WARC_RECORD_SCHEMA``
(url, warc_ts, html, ... — the engine's pages shape); a caller runs it
inside ``mapInPandas``, as the ``warc_roundtrip`` query in
``__spark_entry__.py`` does, so the raw bytes never cross a shuffle. Parity with the real format is
pinned by round-trip tests over records WRITTEN by ``write_warc`` (spec
layout) and by hand-built fixtures with multi-record gzip members.
"""

from __future__ import annotations

import gzip
import io
from collections.abc import Iterator
from datetime import datetime, timezone

from pyspark.sql import types as T

WARC_RECORD_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("warc_type", T.StringType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("http_status", T.IntegerType()),
    T.StructField("html", T.BinaryType()),
])


def iter_warc_records(fobj) -> Iterator[dict]:
    """Stream records from a (decompressed) file-like object — one
    record's headers + block resident at a time, so per-task memory is
    bounded by the largest RECORD, not the decompressed FILE (a ~1 GB
    CC ``.warc.gz`` inflates to 4-5 GB; materializing that per Python
    worker is an OOM at default executor memory). Malformed tails stop
    the iteration rather than raising — a truncated crawl file yields
    its complete prefix records."""
    while True:
        line = fobj.readline()
        # skip inter-record CRLF lines
        while line in (b"\r\n", b"\n"):
            line = fobj.readline()
        if not line or not line.startswith(b"WARC/"):
            return
        headers: dict[str, str] = {}
        while True:
            hl = fobj.readline()
            if not hl:
                return
            if hl in (b"\r\n", b"\n"):
                break
            k, _, v = hl.partition(b":")
            headers[k.strip().decode("ascii", "replace").lower()] = (
                v.strip().decode("utf-8", "replace")
            )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        block = fobj.read(length)
        if len(block) < length:
            return
        yield {"headers": headers, "block": block}


def _parse_http_response(block: bytes) -> tuple[int | None, str | None, bytes]:
    """(status, content-type, body) from an HTTP response block; a
    block that is not HTTP comes back as (None, None, block)."""
    if not block.startswith(b"HTTP/"):
        return (None, None, block)
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        return (None, None, block)
    head = block[:sep].split(b"\r\n")
    try:
        status = int(head[0].split()[1])
    except (IndexError, ValueError):
        status = None
    ctype = None
    for line in head[1:]:
        k, _, v = line.partition(b":")
        if k.strip().lower() == b"content-type":
            ctype = v.strip().decode("utf-8", "replace")
    return (status, ctype, block[sep + 4:])


def _iso_ts(s: str | None) -> datetime | None:
    if not s:
        return None
    try:
        # WARC-Date is ISO-8601 Zulu; emit tz-naive UTC (the engine's
        # pages schema carries TIMESTAMP with session tz pinned UTC)
        return datetime.fromisoformat(s.replace("Z", "+00:00")).astimezone(
            timezone.utc
        ).replace(tzinfo=None)
    except ValueError:
        return None


def iter_rows_from_file_bytes(content: bytes) -> Iterator[tuple]:
    """File bytes (.warc or .warc.gz) -> rows of WARC_RECORD_SCHEMA,
    yielded as parsed. Gzip input decompresses INCREMENTALLY
    (``gzip.GzipFile`` reads concatenated CC members transparently), so
    peak memory is the raw file + one record —
    never the whole decompressed stream."""
    fobj = (
        gzip.GzipFile(fileobj=io.BytesIO(content))
        if content[:2] == b"\x1f\x8b"
        else io.BytesIO(content)
    )
    for rec in iter_warc_records(fobj):
        h = rec["headers"]
        wtype = h.get("warc-type")
        status, ctype, body = (None, None, rec["block"])
        if wtype == "response":
            status, ctype, body = _parse_http_response(rec["block"])
        yield (
            h.get("warc-target-uri"),
            _iso_ts(h.get("warc-date")),
            wtype,
            ctype or h.get("content-type"),
            status,
            bytes(body),
        )


def records_from_file_bytes(content: bytes) -> list[tuple]:
    """Materialized form of :func:`iter_rows_from_file_bytes` (tests and
    the ``warc_roundtrip`` query)."""
    return list(iter_rows_from_file_bytes(content))


def write_warc(
    records: list[tuple[str, datetime, bytes]], *, compress: bool = False
) -> bytes:
    """Spec-layout WARC bytes for (url, ts, html-body) triples — each
    record a full HTTP 200 response; with ``compress``, per-record gzip
    members concatenated exactly like Common Crawl ships them. Fixture
    writer shared by tests and the round-trip oracle query."""
    out = io.BytesIO()
    for url, ts, body in records:
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            + f"Content-Length: {len(body)}\r\n\r\n".encode()
            + body
        )
        rec = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + f"WARC-Target-URI: {url}\r\n".encode()
            + f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n".encode()
            + b"Content-Type: application/http; msgtype=response\r\n"
            + f"Content-Length: {len(http)}\r\n\r\n".encode()
            + http
            + b"\r\n\r\n"
        )
        out.write(gzip.compress(rec) if compress else rec)
    return out.getvalue()
