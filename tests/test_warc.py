"""WARC source: framing correctness, gzip members, round-trip through
the pages schema, and e2e into the quality pipeline's html-extraction
fallback (the fresh-crawl entry path)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from textcleaning_spark.plans.pipeline import (
    extract_text,
    html_to_text_py,
    run_quality_pipeline,
)
from textcleaning_spark.sources.pages import generate_pages_pdf
from textcleaning_spark.sources.warc import (
    parse_warc_bytes,
    read_warc,
    write_warc,
)

N = 60


def _pages():
    pdf = generate_pages_pdf(N, seed=21)
    return [(r["url"], r["warc_ts"], r["html"]) for _, r in pdf.iterrows()]


def test_roundtrip_plain_and_gzip(tmp_path):
    pages = _pages()
    for compress, name in ((False, "a.warc"), (True, "a.warc.gz")):
        p = os.path.join(tmp_path, name)
        write_warc(p, pages, compress=compress)
        got = list(parse_warc_bytes(open(p, "rb").read()))
        assert got == pages, name  # url, ts and html all byte-identical


def test_framing_survives_warc_like_payload(tmp_path):
    """Content-Length framing: a payload CONTAINING 'WARC/1.0\\r\\n'
    must not desynchronize the parser (naive boundary splitting would)."""
    from datetime import datetime

    evil = b"<html><body>WARC/1.0\r\nWARC-Type: response\r\n\r\nfake</body></html>"
    pages = [
        ("https://a.test/1", datetime(2024, 1, 1), evil),
        ("https://a.test/2", datetime(2024, 1, 2), b"<p>after</p>"),
    ]
    p = os.path.join(tmp_path, "evil.warc")
    write_warc(p, pages)
    got = list(parse_warc_bytes(open(p, "rb").read()))
    assert got == pages


def test_non_response_records_skipped(tmp_path):
    raw = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\ninfo\r\n\r\n"
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://x.test/\r\n"
        b"WARC-Date: 2024-06-01T00:00:00Z\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        b"Content-Length: 46\r\n\r\n"
        b"HTTP/1.1 200 OK\r\nContent-Length: 8\r\n\r\n<p>x</p>\r\n\r\n"
    )
    got = list(parse_warc_bytes(raw))
    assert len(got) == 1 and got[0][0] == "https://x.test/"
    assert got[0][2] == b"<p>x</p>"


def test_read_warc_spark_and_pipeline_extraction(spark, tmp_path):
    """Two archives (one gzipped) → read_warc glob → NULL-text pages →
    extract_text's html fallback reproduces the Python golden per url."""
    pages = _pages()
    write_warc(os.path.join(tmp_path, "seg-0.warc"), pages[: N // 2])
    write_warc(
        os.path.join(tmp_path, "seg-1.warc.gz"), pages[N // 2 :], compress=True
    )
    df = read_warc(spark, os.path.join(tmp_path, "seg-*"))
    assert df.schema["html"].dataType.typeName() == "binary"
    got = {r["url"]: r for r in df.collect()}
    assert set(got) == {u for u, _, _ in pages}
    for url, ts, html in pages:
        assert got[url]["warc_ts"] == ts and bytes(got[url]["html"]) == html
        assert got[url]["text"] is None and got[url]["lang"] is None
    extracted = {
        r["url"]: r["text"]
        for r in extract_text(read_warc(spark, os.path.join(tmp_path, "seg-*")))
        .select("url", "text")
        .collect()
    }
    for url, _, html in pages:
        assert extracted[url] == html_to_text_py(html), url


def test_pipeline_parses_each_archive_once(spark, tmp_path):
    """The scored pipeline over a WARC glob plans ONE binaryFile scan,
    ONE mapInPandas parse and ONE langid Python stage: every archive is
    inflated and parsed once per action."""
    write_warc(os.path.join(tmp_path, "seg-0.warc.gz"), _pages(), compress=True)
    scored = run_quality_pipeline(read_warc(spark, os.path.join(tmp_path, "seg-*")))
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("Scan binaryFile") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert scored.count() == N


def test_read_warc_parallelizes_per_file(spark, tmp_path):
    pages = _pages()
    for i in range(4):
        write_warc(os.path.join(tmp_path, f"s{i}.warc"), pages[i::4])
    df = read_warc(spark, os.path.join(tmp_path, "s*.warc"))
    assert df.rdd.getNumPartitions() >= 2  # files are the task unit
    assert df.count() == N


def _response_rec(url: bytes, date: bytes, body: bytes, length: bytes | None = None) -> bytes:
    http = b"HTTP/1.1 200 OK\r\n\r\n" + body
    cl = (
        b"Content-Length: " + (length if length is not None else str(len(http)).encode())
        + b"\r\n"
    )
    return (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: " + url + b"\r\n"
        b"WARC-Date: " + date + b"\r\n" + cl + b"\r\n" + http + b"\r\n\r\n"
    )


def test_fractional_second_dates_parse():
    """WARC 1.1 permits fractional seconds (real Common-Crawl-adjacent
    archives carry them); micros keep the first 6 digits, nanos
    truncate, and a malformed date degrades to epoch instead of
    raising away the archive's whole task."""
    from datetime import datetime

    raw = (
        _response_rec(b"https://f.test/1", b"2024-06-01T10:20:30.123456Z", b"<p>a</p>")
        + _response_rec(b"https://f.test/2", b"2024-06-01T10:20:30.123456789Z", b"<p>b</p>")
        + _response_rec(b"https://f.test/3", b"2024-06-01T10:20:30.5Z", b"<p>c</p>")
        + _response_rec(b"https://f.test/4", b"not-a-date", b"<p>d</p>")
        + _response_rec(b"https://f.test/5", b"2024-06-01T10:20:30Z", b"<p>e</p>")
    )
    got = list(parse_warc_bytes(raw))
    assert [u for u, _, _ in got] == [f"https://f.test/{i}" for i in range(1, 6)]
    assert got[0][1] == datetime(2024, 6, 1, 10, 20, 30, 123456)
    assert got[1][1] == datetime(2024, 6, 1, 10, 20, 30, 123456)  # nanos truncate
    assert got[2][1] == datetime(2024, 6, 1, 10, 20, 30, 500000)
    assert got[3][1] == datetime(1970, 1, 1)
    assert got[4][1] == datetime(2024, 6, 1, 10, 20, 30)
    assert [b for _, _, b in got] == [f"<p>{c}</p>".encode() for c in "abcde"]


def test_missing_content_length_resyncs_not_desyncs():
    """A record with NO Content-Length cannot be framed: the parser
    must resync to the next version line and keep the remaining
    records — advancing by 0 into the payload would reparse payload
    bytes as headers and corrupt every later record."""
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://bad.test/\r\n"
        b"WARC-Date: 2024-06-01T00:00:00Z\r\n\r\n"  # no Content-Length
        b"HTTP/1.1 200 OK\r\n\r\n<p>orphan payload</p>\r\n\r\n"
    )
    good = _response_rec(b"https://ok.test/", b"2024-06-01T00:00:00Z", b"<p>ok</p>")
    got = list(parse_warc_bytes(bad + good))
    assert [(u, b) for u, _, b in got] == [("https://ok.test/", b"<p>ok</p>")]
    # garbage (non-numeric) Content-Length takes the same resync path
    garbage = _response_rec(
        b"https://gar.test/", b"2024-06-01T00:00:00Z", b"<p>x</p>", length=b"abc"
    )
    got = list(parse_warc_bytes(garbage + good))
    assert [(u, b) for u, _, b in got] == [("https://ok.test/", b"<p>ok</p>")]
    # unframeable record with NOTHING after it: stop cleanly, yield none
    assert list(parse_warc_bytes(bad)) == []


def test_truncated_final_payload_yields_prefix():
    """EOF mid-payload (a cut-off upload): the final record yields the
    bytes that exist instead of raising."""
    rec = _response_rec(b"https://t.test/", b"2024-06-01T00:00:00Z", b"<p>full</p>")
    got = list(parse_warc_bytes(rec[:-8]))  # cut into the payload
    assert len(got) == 1 and got[0][2].startswith(b"<p>f")


def test_non_utf8_pages_cost_no_records(spark, tmp_path):
    """Invalid UTF-8 in a crawl (a cp1252 page, a truncated multibyte
    sequence, a UTF-16 ``\\xff\\xfe`` page) must not fail the job: every
    record yields one pipeline row, and the native decode (invalid
    bytes → U+FFFD) equals the Python twins' ``decode("utf-8",
    "replace")`` through extraction, keep verdict, scrub and links."""
    from datetime import datetime

    from textcleaning_spark.config import DEFAULT_CONFIG
    from textcleaning_spark.functions.links import (
        meta_noindex,
        meta_noindex_py,
        outlink_hrefs,
        outlink_hrefs_py,
    )
    from textcleaning_spark.functions.scrub import scrub_py
    from tests.test_pipeline_golden import golden_keep

    prose = "the shop on the corner is open and we like to visit it with our friends"
    bad = [
        # cp1252: é, ï and curly quotes are single bytes, invalid UTF-8
        b"<html><body><p>The caf\xe9 is open and the na\xefve visitors say "
        + b"\x93hello\x94 to " + prose.encode() + b'</p><a href="/m\xe9nu">x</a>'
        + b"</body></html>",
        # truncated multibyte sequences, mid-text and at the very end
        b"<p>" + prose.encode() + b" price \xe2\x82 and \xf0\x9f\x98</p>\xe4\xb8",
        # UTF-16LE with its byte-order mark
        b"\xff\xfe" + f'<meta name="robots" content="noindex"><p>{prose}</p>'.encode(
            "utf-16-le"
        ),
    ]
    pages = _pages()[:12] + [
        (f"https://enc.test/{i}", datetime(2024, 6, 1), html)
        for i, html in enumerate(bad)
    ]
    write_warc(os.path.join(tmp_path, "seg-0.warc.gz"), pages, compress=True)
    df = read_warc(spark, os.path.join(tmp_path, "seg-*"))
    out = run_quality_pipeline(df).select("url", "text", "keep", "scrubbed_text")
    rows = out.collect()
    assert sorted(r["url"] for r in rows) == sorted(u for u, _, _ in pages)
    got = {r["url"]: r for r in rows}
    cfg = DEFAULT_CONFIG
    for url, _, html in pages:
        text = html_to_text_py(html)
        keep = golden_keep(text, cfg.quality)
        assert got[url]["text"] == text, url
        assert got[url]["keep"] == keep, url
        assert got[url]["scrubbed_text"] == (scrub_py(text, cfg.scrub) if keep else None)
    assert "�" in got["https://enc.test/0"]["text"]

    links = df.select(
        "url", outlink_hrefs("html").alias("hrefs"), meta_noindex("html").alias("ni")
    ).collect()
    for r in links:
        html = next(h for u, _, h in pages if u == r["url"])
        assert r["hrefs"] == outlink_hrefs_py(html), r["url"]
        assert r["ni"] == meta_noindex_py(html), r["url"]
