"""Outlink extraction + host link graph + PageRank.

Three layers, mirroring the scrub/extract test discipline:
1. native-vs-Python differential on the href extraction and host
   resolution twins (functions/links.py), over the generated corpus
   AND adversarial hand cases;
2. end-to-end: pages source → host_edges → pagerank on real html;
3. pagerank determinism/semantics: mass conservation bound, dangling
   handling, repartition-invariance (the nano-unit contract).
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from textcleaning_spark.functions.links import (
    outlink_hrefs,
    outlink_hrefs_py,
    resolve_host,
    resolve_host_py,
)
from textcleaning_spark.operators.linkgraph import NANO, host_edges, pagerank
from textcleaning_spark.sources.pages import generate_pages, generate_pages_pdf

# (href, src_host, expected_host) — the classes resolve_host documents
CASES = [
    ("https://example-0001.test/p/1", "example-9999.test", "example-0001.test"),
    ("http://WWW.Example-0002.TEST/x?utm_source=a", "h", "example-0002.test"),
    ("//cdn.example.test/lib.js", "h", "cdn.example.test"),
    ("/about", "example-0003.test", "example-0003.test"),
    ("page2.html", "example-0004.test", "example-0004.test"),
    ("mailto:ops@example.test", "h", None),
    ("javascript:void(0)", "h", None),
    ("tel:+15551234567", "h", None),
    ("", "h", None),
    ("   ", "h", None),
    ("//", "h", None),  # degenerate scheme-relative: no host at all
    ("https://example.test#frag", "h", "example.test"),
    ("HTTPS://UPPER.TEST/PATH", "h", "upper.test"),
]

HTMLS = [
    b'<html><body><a href="https://a.test/x"></a><a href="/rel">r</a></body></html>',
    b'<html><a class="x" href="https://b.test/y#frag">t</a><area href="https://no.test"></html>',
    b"<html><p>no links at all</p></html>",
    b'<a href="mailto:x@y.z">m</a><a href="//c.test/z"></a>',
]


def test_resolve_host_py_cases():
    for href, src, want in CASES:
        assert resolve_host_py(href, src) == want, href


def test_resolve_host_differential(spark):
    pdf = pd.DataFrame(CASES, columns=["href", "src_host", "want"])
    got = (
        spark.createDataFrame(pdf)
        .select("href", "want", resolve_host(F.col("href"), F.col("src_host")).alias("got"))
        .collect()
    )
    for r in got:
        assert r["got"] == r["want"], r["href"]


def test_outlink_hrefs_differential(spark):
    rows = [(h,) for h in HTMLS]
    df = spark.createDataFrame(rows, "html binary")
    got = [r["hrefs"] for r in df.select(outlink_hrefs("html").alias("hrefs")).collect()]
    want = [outlink_hrefs_py(h) for h in HTMLS]
    assert got == want
    # fragment cut at extraction time; <area href> never matches
    assert want[1] == ["https://b.test/y"]
    assert want[2] == []


def test_corpus_extraction_differential(spark):
    """Generated pages: native extraction chain == Python twin on every
    page (the generator plants absolute/relative/mailto links)."""
    pdf = generate_pages_pdf(300, seed=7)
    native = (
        generate_pages(spark, 300, seed=7)
        .select("url", outlink_hrefs("html").alias("hrefs"))
        .toPandas()
        .set_index("url")["hrefs"]
    )
    for _, row in pdf.iterrows():
        assert list(native[row["url"]]) == outlink_hrefs_py(row["html"]), row["url"]


def test_host_edges_end_to_end(spark):
    pages = generate_pages(spark, 400, seed=7)
    edges = host_edges(pages).toPandas()
    assert len(edges) > 100  # 2-4 cross-host links per page
    assert (edges["weight"] >= 1).all()
    assert (edges["src_host"] != edges["dst_host"]).all()
    # every host comes from the generator's single host space
    for col in ("src_host", "dst_host"):
        assert edges[col].str.fullmatch(r"example-\d{4}\.test").all(), col
    # mailto targets never become hosts
    assert not edges["dst_host"].str.contains("@").any()


@pytest.fixture(scope="module")
def toy_ranks(spark):
    """Star + dangling: a->c, b->c (weight 2), c has no out-edges."""
    edges = spark.createDataFrame(
        [("a", "c", 1), ("b", "c", 2)],
        "src_host string, dst_host string, weight long",
    )
    pr = pagerank(edges, iters=3, damping=0.85)
    return {r["host"]: r["rank_nano"] for r in pr.collect()}


def test_pagerank_semantics(toy_ranks):
    # the sink outranks its sources; sources tie by symmetry
    assert toy_ranks["c"] > toy_ranks["a"] == toy_ranks["b"]
    # flooring loses <1 nano-unit per term: total stays within N*iters
    total = sum(toy_ranks.values())
    assert NANO - 3 * 3 * 4 <= total <= NANO


def test_pagerank_partition_invariant(spark):
    """The nano-unit contract: identical bits under any partitioning."""
    edges = host_edges(generate_pages(spark, 300, seed=11))
    a = {r["host"]: r["rank_nano"] for r in pagerank(edges, iters=2).collect()}
    b = {
        r["host"]: r["rank_nano"]
        for r in pagerank(edges.repartition(17), iters=2).collect()
    }
    assert a == b


def test_pages_text_untouched_by_links(spark):
    """The planted anchors are EMPTY: extraction output for a null-text
    page equals extraction of the same page before links existed —
    i.e. the anchor tags vanish entirely (byte-identical contract)."""
    from textcleaning_spark.plans.pipeline import html_to_text_py

    pdf = generate_pages_pdf(50, seed=7)
    for _, row in pdf.iterrows():
        extracted = html_to_text_py(row["html"])
        flat = " ".join(row["text"].split())
        i = row["url"].rsplit("/", 1)[1]  # '<title>p{i}</title>' survives
        assert extracted == f"p{i} {flat}", row["url"]


NOINDEX_CASES = [
    ('<meta name="robots" content="noindex,nofollow">', True),
    ('<meta name="robots" content="nofollow, noindex">', True),
    ('<meta content="noindex" name="robots">', True),
    ('<meta name="robots" content="nofollow">', False),
    ('<meta name="googlebot" content="noindex">', False),  # scope: robots only
    ("<p>noindex mentioned in prose</p>", False),
    ("<html><body>nothing</body></html>", False),
    # Java's \s matches \x0B and RE2's does not
    ('<meta\x0bname="robots" content="noindex">', False),
]


def test_meta_noindex_differential(spark):
    """Spark, the Python twin and the DuckDB replay in
    noindex_politeness_filter give one verdict per case."""
    import duckdb

    from textcleaning_spark.functions.links import _NOINDEX_RES, meta_noindex, meta_noindex_py

    htmls = [f"<html><head>{m}</head><body>x</body></html>".encode() for m, _ in NOINDEX_CASES]
    df = spark.createDataFrame([(h,) for h in htmls], "html binary")
    got = [r["f"] for r in df.select(meta_noindex("html").alias("f")).collect()]
    want = [w for _, w in NOINDEX_CASES]
    assert got == want
    assert [meta_noindex_py(h) for h in htmls] == want
    con = duckdb.connect()
    duck = [
        con.execute(
            f"SELECT regexp_matches(html, '{_NOINDEX_RES[0]}')"
            f" OR regexp_matches(html, '{_NOINDEX_RES[1]}') FROM (SELECT ? AS html)",
            [h.decode()],
        ).fetchone()[0]
        for h in htmls
    ]
    con.close()
    assert duck == want


def test_drop_noindex_matches_planted_set(spark):
    """The generator plants noindex on a deterministic hash-gated ~10%;
    the filter must drop exactly that set (and nothing content-based)."""
    from textcleaning_spark.functions.links import drop_noindex, meta_noindex_py
    from textcleaning_spark.sources.pages import generate_pages_pdf

    pdf = generate_pages_pdf(400, seed=7)
    planted = {row["url"] for _, row in pdf.iterrows() if meta_noindex_py(row["html"])}
    assert 10 <= len(planted) <= 80  # ~10% of 400
    kept = {r["url"] for r in drop_noindex(generate_pages(spark, 400, seed=7)).select("url").collect()}
    assert kept == set(pdf["url"]) - planted
