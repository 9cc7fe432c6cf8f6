"""HTML extraction (round-3): script/style/comment CONTENT must never
reach ``text``, the five XML entities decode, and the text-present
branch stays byte-identical. Differential vs the Python twin."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from textcleaning_spark.plans.pipeline import (
    extract_text,
    html_to_text_py,
    metrics_table,
    run_quality_pipeline,
)
from textcleaning_spark.sources.pages import PAGES_SCHEMA

_TS = datetime(2024, 1, 1)

PAGES = [
    # script ELEMENT content must vanish (the round-2 gap: tag-strip
    # alone kept `var tracker = ...` as text)
    (
        "https://t/script",
        "<html><head><script type='text/javascript'>var tracker = "
        "secretScriptBody(42);</script></head><body><p>visible prose "
        "here</p></body></html>",
    ),
    # style content + html comment content must vanish
    (
        "https://t/style",
        "<html><head><style>.cls { color: #fff; }</style>"
        "<!-- hidden comment body --></head>"
        "<body>real words only</body></html>",
    ),
    # multi-line, mixed-case, attribute-bearing script; unclosed style
    # attribute quotes inside; comment wrapping markup
    (
        "https://t/multiline",
        "<html><BODY><SCRIPT src='x.js'>\nline1();\nline2();\n</SCRIPT>"
        "<!-- <p>commented-out markup</p> -->"
        "<p>kept paragraph</p></BODY></html>",
    ),
    # the five XML entities, incl. the double-escape order trap:
    # &amp;lt; must yield the literal text "&lt;", never "<"
    (
        "https://t/entities",
        "<p>a &lt;tag&gt; &quot;quoted&quot; &apos;x&apos; "
        "AT&amp;T &amp;lt;literal</p>",
    ),
    # CJK survives the decode/strip chain
    (
        "https://t/cjk",
        "<html><body><p>文本处理 &amp; 품질관리</p></body></html>",
    ),
]


def _pages_df(spark):
    rows = [
        (url, _TS, html.encode("utf-8"), None, "en") for url, html in PAGES
    ]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def test_script_style_comment_content_never_reaches_text(spark):
    out = {
        r["url"]: r["text"] for r in extract_text(_pages_df(spark)).collect()
    }
    assert "secretScriptBody" not in out["https://t/script"]
    assert "tracker" not in out["https://t/script"]
    assert out["https://t/script"] == "visible prose here"
    assert "#fff" not in out["https://t/style"]
    assert "hidden comment" not in out["https://t/style"]
    assert out["https://t/style"] == "real words only"
    assert "line1" not in out["https://t/multiline"]
    assert "commented-out" not in out["https://t/multiline"]
    assert out["https://t/multiline"] == "kept paragraph"


def test_entities_decode_with_amp_last(spark):
    out = {
        r["url"]: r["text"] for r in extract_text(_pages_df(spark)).collect()
    }
    assert out["https://t/entities"] == (
        'a <tag> "quoted" \'x\' AT&T &lt;literal'
    )
    assert out["https://t/cjk"] == "文本处理 & 품질관리"


def test_differential_vs_python_twin(spark):
    got = {
        r["url"]: r["text"] for r in extract_text(_pages_df(spark)).collect()
    }
    for url, html in PAGES:
        assert got[url] == html_to_text_py(html.encode("utf-8")), url


def test_text_present_branch_byte_identical(spark):
    """A row WITH text must pass through untouched even when its html
    would extract differently."""
    rows = [
        ("https://t/has-text", _TS, b"<p>from html</p>", "original text\nkept", "en")
    ]
    out = extract_text(spark.createDataFrame(rows, PAGES_SCHEMA)).collect()
    assert out[0]["text"] == "original text\nkept"


def test_mixed_frame_keeps_every_row_once(spark):
    """Text-present, html-only and all-NULL rows in one frame: each url
    comes out exactly once, present text untouched, html-only rows
    extracted, and a row with neither gets empty ``text``."""
    mixed = _pages_df(spark).unionByName(
        spark.createDataFrame(
            [
                ("https://t/present", _TS, b"<p>other</p>", "kept\tas is ", "en"),
                ("https://t/empty", _TS, None, None, None),
            ],
            PAGES_SCHEMA,
        )
    )
    rows = extract_text(mixed).select("url", "text").collect()
    urls = [r["url"] for r in rows]
    assert len(rows) == len(PAGES) + 2
    assert len(set(urls)) == len(urls)
    got = {r["url"]: r["text"] for r in rows}
    assert got["https://t/present"] == "kept\tas is "
    assert got["https://t/empty"] == ""
    for url, html in PAGES:
        assert got[url] == html_to_text_py(html.encode("utf-8")), url


def test_all_null_page_is_dropped_and_counted(spark):
    """A page with neither text nor html is scored like an empty page:
    ``keep`` is never NULL, every dropped row carries a reason, and the
    metrics table reconciles with the rows in and the rows kept."""
    pages = _pages_df(spark).unionByName(
        spark.createDataFrame(
            [
                ("https://t/null", _TS, None, None, None),
                ("https://t/text", _TS, None, "the filter keeps a plain row", "en"),
            ],
            PAGES_SCHEMA,
        )
    )
    scored = run_quality_pipeline(pages).localCheckpoint()
    rows = scored.select("url", "keep", "drop_reasons").collect()
    assert len(rows) == len(PAGES) + 2
    assert all(r["keep"] is not None for r in rows)
    assert all(r["drop_reasons"] for r in rows if not r["keep"])
    null_page = next(r for r in rows if r["url"] == "https://t/null")
    assert set(null_page["drop_reasons"]) == {"too_short", "no_stop_words"}
    m = metrics_table(scored).agg(
        F.sum("n_docs").alias("n_docs"), F.sum("n_keep").alias("n_keep")
    ).first()
    assert m["n_docs"] == len(rows)
    assert m["n_keep"] == sum(r["keep"] for r in rows)


def test_pipeline_plan_still_exchange_free_with_html_rows(spark):
    """The extraction upgrade must not introduce a shuffle: the scored
    pipeline over a mixed (text / html-only) frame stays Exchange-free
    up to the scored table."""
    mixed = _pages_df(spark).unionByName(
        spark.createDataFrame(
            [("https://t/t1", _TS, None, "plain present text", "en")],
            PAGES_SCHEMA,
        )
    )
    plan = run_quality_pipeline(mixed)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
