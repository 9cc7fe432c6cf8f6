"""WARC source: the on-disk container Common Crawl actually ships.

The north-star input table ``pages(url, warc_ts, html, text, lang)``
is born from WARC (ISO 28500) archives — concatenated ``WARC/1.0``
records, usually per-record-gzipped ``.warc.gz`` members. This module
reads them into the canonical pages shape:

- :func:`read_warc` — ``spark.read.format("binaryFile")`` over a path
  glob, then ONE Arrow-batched ``mapInPandas`` stage parses each
  archive's response records into (url, warc_ts, html) rows, with
  ``text``/``lang`` NULL so plans/pipeline.extract_text extracts every
  row's text from its html — exactly how a fresh crawl enters the
  engine. The pipeline plans this source once, so each archive is
  inflated and parsed once per action.
- :func:`parse_warc_bytes` — the pure parser (record framing by
  ``Content-Length``, never by naive boundary splitting, so payloads
  containing 'WARC/1.0' cannot desynchronize it; HTTP response
  headers split from the body; multi-member gzip handled).
- :func:`write_warc` — the inverse, used by tests and the synthetic
  soak to produce valid archives from the pages generator.

Scale shape: the FILE is the parallel unit — Common Crawl segments
are ~1 GiB archives, tens of thousands per crawl, so a path glob
yields ample tasks and ``binaryFile`` streams each archive to exactly
one task (gzip members are not splittable anyway; this is the layout
cc_net-style pipelines use). Memory is NOT bounded per record:
``parse_warc_bytes`` inflates the whole archive with
``GzipFile.read()``, and ``read_warc``'s ``parse`` builds one
list-of-rows and one pandas frame of all its pages. So a task holds one
inflated archive plus one frame of its pages (and ``binaryFile`` caps
an archive at 2 GiB). ROADMAP direction 5 (bounded-memory WARC
ingestion) owns the fix. Header-only work (url, date) stays tiny; the
html bytes go straight into the binary column.
"""

from __future__ import annotations

import gzip
import io
from collections.abc import Iterator
from datetime import datetime

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from textcleaning_spark.sources.pages import PAGES_SCHEMA

_CRLF = b"\r\n"


def _parse_header_block(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(_CRLF):
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[k.decode("ascii", "replace").strip().lower()] = v.decode(
                "ascii", "replace"
            ).strip()
    return headers


def _split_http_payload(payload: bytes) -> bytes:
    """application/http payload → body (HTTP status line + headers cut)."""
    sep = payload.find(_CRLF + _CRLF)
    return payload[sep + 4 :] if sep >= 0 else payload


_EPOCH = datetime(1970, 1, 1)


def _parse_warc_date(raw: str) -> datetime:
    """WARC-Date → naive-UTC datetime (TIMESTAMP_NTZ end-to-end, like
    the generator). WARC 1.0 mandates second precision but WARC 1.1
    permits fractional seconds (common in real Common-Crawl-adjacent
    archives, any number of digits); both parse here. A malformed date
    degrades to epoch rather than killing the archive's task — one bad
    record must not cost the other ~50k pages in a 1 GiB segment."""
    raw = raw.strip()
    try:
        return datetime.strptime(raw, "%Y-%m-%dT%H:%M:%SZ")
    except ValueError:
        pass
    base, dot, frac = raw.rstrip("Z").partition(".")
    try:
        ts = datetime.strptime(base, "%Y-%m-%dT%H:%M:%S")
    except ValueError:
        return _EPOCH
    if dot and frac.isdigit():
        # micros from the first 6 fractional digits (nanos truncate)
        ts = ts.replace(microsecond=int(frac[:6].ljust(6, "0")))
    return ts


def parse_warc_bytes(data: bytes) -> Iterator[tuple[str, datetime, bytes]]:
    """Yield (url, warc_ts, html) from one WARC archive's bytes.

    Framing is by the mandatory ``Content-Length`` header (ISO 28500
    §4), never by scanning for the next version line — payloads
    containing 'WARC/1.0' cannot desynchronize it. Non-response
    records (warcinfo, request, metadata) are skipped. Gzip archives
    (including the standard one-member-per-record form) are inflated
    first — ``gzip.GzipFile`` consumes concatenated members.

    Malformed-record policy (a 1 GiB segment is one task; one bad
    record must not corrupt or kill the rest): a record whose
    Content-Length is MISSING or non-numeric cannot be framed, so the
    parser RESYNCS to the next ``\\r\\nWARC/`` version line and
    continues (never advances by 0 into the payload, which would
    silently reparse payload bytes as headers); a record whose payload
    is truncated by EOF yields what is there and stops; a malformed
    WARC-Date degrades to epoch (:func:`_parse_warc_date`)."""
    if data[:2] == b"\x1f\x8b":
        data = gzip.GzipFile(fileobj=io.BytesIO(data)).read()
    pos, n = 0, len(data)
    while pos < n:
        # tolerate inter-record CRLFs
        while data[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        end = data.find(_CRLF + _CRLF, pos)
        if end < 0:
            break
        headers = _parse_header_block(data[pos:end])
        raw_len = headers.get("content-length", "").strip()
        if not raw_len.isdigit():
            # unframeable record: resync to the next version line
            # instead of advancing by 0 into the payload
            nxt = data.find(_CRLF + b"WARC/", end + 4)
            if nxt < 0:
                break
            pos = nxt + 2
            continue
        length = int(raw_len)
        payload = data[end + 4 : end + 4 + length]
        pos = end + 4 + length
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri", "")
        ts = _parse_warc_date(headers.get("warc-date", "1970-01-01T00:00:00Z"))
        yield url, ts, _split_http_payload(payload)


def read_warc(spark: SparkSession, path_glob: str) -> DataFrame:
    """WARC archives → the canonical pages frame, text/lang NULL."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for content in pdf["content"]:
                rows = [
                    (url, ts, html, None, None)
                    for url, ts, html in parse_warc_bytes(bytes(content))
                ]
                if rows:
                    yield pd.DataFrame(
                        rows, columns=["url", "warc_ts", "html", "text", "lang"]
                    )

    files = spark.read.format("binaryFile").load(path_glob).select("content")
    return files.mapInPandas(parse, PAGES_SCHEMA)


def write_warc(path: str, pages: list[tuple], compress: bool = False) -> None:
    """(url, warc_ts, html) rows → one valid WARC/1.0 archive on local
    disk (tests + synthetic soak; one gzip member per record when
    ``compress``, the Common Crawl layout)."""
    out = io.BytesIO()
    for url, ts, html in pages:
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            + f"Content-Length: {len(html)}\r\n\r\n".encode()
            + html
        )
        rec = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + f"WARC-Target-URI: {url}\r\n".encode()
            + f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n".encode()
            + b"Content-Type: application/http; msgtype=response\r\n"
            + f"Content-Length: {len(http)}\r\n".encode()
            + _CRLF
            + http
            + _CRLF
            + _CRLF
        )
        out.write(gzip.compress(rec) if compress else rec)
    with open(path, "wb") as f:
        f.write(out.getvalue())
