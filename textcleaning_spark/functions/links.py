"""Hyperlink (outlink) extraction from raw HTML, host-resolved.

Web-crawl pipelines mine the link structure of the crawl itself: host-
level link graphs drive crawl prioritization and per-host quality
priors (Common Crawl publishes exactly this — host-level webgraph
ranks — and C4/RefinedWeb-class filters consume host reputation as a
signal). The reference has no hyperlink stage (its corpus is patent
metadata, text_process.py:39-41), so this is part of the engine's
web-scale layer, like URL canonicalization (functions/urls.py).

Two pieces, both native (no Python in the hot path):

- :func:`outlink_hrefs` — ``html binary → array<string>`` of href
  attribute values, one ``regexp_extract_all`` over the decoded page.
- :func:`resolve_host` — one href + the page's own host → the target
  HOST: absolute ``http(s)://`` and scheme-relative ``//`` links yield
  their own (canonicalized) host; path-relative links resolve to the
  source host; every other scheme (``mailto:``, ``javascript:``,
  ``tel:``, ``data:`` …) resolves to NULL and is dropped by the edge
  builder.

Python twins (:func:`outlink_hrefs_py`, :func:`resolve_host_py`) are
differential-tested against the native chain (tests/test_links.py),
the same discipline as functions/scrub.py and plans/pipeline.py.

Scope, documented: double-quoted ``href="…"`` attributes on ``<a>``
tags — the overwhelmingly dominant form in real markup and the one
the synthetic pages source emits. Fragments are cut at extraction
time (``#`` ends the capture) since they never leave the client.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from textcleaning_spark.functions.text import decode_utf8, decode_utf8_py
from textcleaning_spark.functions.urls import canonical_url, host

# <a ...href="...">: '<a' + one whitespace char anchors the tag name
# (so <area>/<abbr> never match); capture stops at quote or fragment.
# Java regex and Python re agree on every construct used.
_HREF_RE = r'(?i)<a\s[^>]*href\s*=\s*"([^"#]*)'

# href classes, checked in this order by resolve_host:
_ABS_RE = r"(?i)^(https?:)?//"  # absolute or scheme-relative
_OTHER_SCHEME_RE = r"(?i)^[a-z][a-z0-9+.-]*:"  # mailto:, javascript:, …


def outlink_hrefs(html_col: Column | str) -> Column:
    """``html binary → array<string>`` of raw href values (may be
    empty, never null for non-null html). One decode + one
    ``regexp_extract_all`` — codegen'd, scan-side."""
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    return F.regexp_extract_all(decode_utf8(c), F.lit(_HREF_RE), 1)


def resolve_host(href: Column, src_host: Column) -> Column:
    """Target host of one href given the linking page's host.

    Absolute/scheme-relative links are canonicalized (lowercase, no
    ``www.``, tracking params irrelevant at host granularity) and
    truncated to their host; path-relative links stay on ``src_host``;
    non-http(s) schemes yield NULL. Empty hrefs (``href=""`` —
    self-reference) yield NULL too."""
    stripped = F.regexp_replace(href, _ABS_RE, "")
    # regexp_extract returns '' (not NULL) on no match — e.g. href="//";
    # nullif folds that to NULL so the edge builder's filter drops it
    return (
        F.when(href.rlike(_ABS_RE), F.nullif(host(canonical_url(stripped)), F.lit("")))
        .when(href.rlike(_OTHER_SCHEME_RE), F.lit(None).cast("string"))
        .when(F.length(F.trim(href)) > 0, src_host)
        .otherwise(F.lit(None).cast("string"))
    )


# robots meta directive: both attribute orders (name before content and
# content before name), double-quoted values, 'noindex' anywhere in the
# content list. Honoring noindex is a baseline crawl-politeness /
# compliance requirement — pages asking to stay out of indexes should
# be dropped BEFORE any quality scoring spends cycles on them.
# Whitespace is spelled [ \t\r\n], not \s: Java's \s also matches \x0B
# and RE2's does not, and noindex_politeness_filter replays these
# patterns in DuckDB.
_WS = r"[ \t\r\n]"
_NOINDEX_RES = (
    rf'(?i)<meta{_WS}[^>]*name{_WS}*={_WS}*"robots"[^>]*content{_WS}*={_WS}*"[^"]*noindex',
    rf'(?i)<meta{_WS}[^>]*content{_WS}*={_WS}*"[^"]*noindex[^"]*"[^>]*name{_WS}*={_WS}*"robots"',
)


def meta_noindex(html_col: Column | str) -> Column:
    """True iff the page carries ``<meta name="robots" … noindex …>``.
    Native decode + two rlike passes, scan-side; false for null html.

    ``(?i)`` is relied on only for the ASCII literals of the patterns.
    Java folds ASCII case only, while RE2 and Python also fold ``ſ`` to
    ``s`` and the Kelvin sign ``K`` to ``k``; the corpus carries neither,
    so the three engines agree on it."""
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    s = decode_utf8(c)
    return F.coalesce(
        s.rlike(_NOINDEX_RES[0]) | s.rlike(_NOINDEX_RES[1]), F.lit(False)
    )


def drop_noindex(pages):
    """Politeness pre-filter for the pages pipeline: remove noindex
    pages before extraction/scoring. Not part of the reference-parity
    keep verdict (the north-star F1 contract is about CONTENT rules) —
    a crawl applies this upstream of quality filtering."""
    return pages.filter(~meta_noindex(F.col("html")))


# --- Python twins (differential-tested) -------------------------------------

_CANON_STEPS_PY: tuple[tuple[str, str], ...] = (
    (r"#.*$", ""),
    (r"^https?://", ""),
    (r"^www\.", ""),
)


def outlink_hrefs_py(html: bytes | str) -> list[str]:
    return re.findall(_HREF_RE, decode_utf8_py(html))


def meta_noindex_py(html: bytes | str) -> bool:
    s = decode_utf8_py(html)
    return any(re.search(p, s) for p in _NOINDEX_RES)


def resolve_host_py(href: str, src_host: str) -> str | None:
    if re.match(_ABS_RE, href):
        s = re.sub(_ABS_RE, "", href).lower()
        for pat, repl in _CANON_STEPS_PY:
            s = re.sub(pat, repl, s)
        # canonical_url's query-separator normalization means the Spark
        # host capture stops at the first of / ? & — mirror that here
        # ([^&] directly, since the twin skips the ?↔& rewrite steps)
        m = re.match(r"^[^/?&]+", s)
        return m.group(0) if m else None
    if re.match(_OTHER_SCHEME_RE, href):
        return None
    return src_host if href.strip() else None
