"""Crawl family: recrawl upserts, URL canonicalization, host keep
rates and the robots politeness filters (meta noindex, robots.txt
longest match)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from textcleaning_spark.functions import links as _links
from textcleaning_spark.functions import text as T
from textcleaning_spark.functions import urls as _urls
from textcleaning_spark.operators import quality as q
from textcleaning_spark.queries import register
from textcleaning_spark.queries.common import _QCFG, _doc_md5, _doc_md5_sql
from textcleaning_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# Incremental snapshot merge (upsert) — crawl re-ingest pattern
# ---------------------------------------------------------------------------
# A fresh crawl re-fetches some pages (updates), finds new ones
# (inserts), and misses others (carry-over). The merge is one FULL
# OUTER join on the key + coalesce — the relational core of
# MERGE INTO, format-independent (Iceberg/Delta run the same plan).
# Updates are simulated deterministically: every doc_id ≡ 0 (mod 7)
# arrives re-crawled with prefixed text; ids shifted by +1000000 for
# doc_id ≡ 1 (mod 13) simulate brand-new pages.


@register(
    "incremental_upsert",
    """
    WITH updates AS (
        SELECT doc_id, 'recrawl: ' || text AS text, lang
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text, lang
        FROM documents WHERE doc_id % 13 = 1
    ),
    merged AS (
        SELECT coalesce(u.doc_id, d.doc_id) AS doc_id,
               coalesce(u.text, d.text) AS text,
               coalesce(u.lang, d.lang) AS lang,
               CASE WHEN d.doc_id IS NULL THEN 'insert'
                    WHEN u.doc_id IS NULL THEN 'carry'
                    ELSE 'update' END AS action
        FROM documents d
        FULL OUTER JOIN updates u ON d.doc_id = u.doc_id
    )
    SELECT action,
           count(*)::BIGINT AS n_rows,
           sum(length(text))::BIGINT AS total_chars
    FROM merged
    GROUP BY action
    """,
)
def incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-shaped upsert: full outer join on the document key,
    coalesce per column, action label per row. At scale the join
    shuffles both sides on doc_id once; with a base table bucketed on
    doc_id the base side's exchange disappears."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    upd = d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.concat(F.lit("recrawl: "), F.col("text")).alias("text"), "lang"
    )
    ins = d.filter(F.col("doc_id") % 13 == 1).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang"
    )
    u = upd.unionByName(ins)
    du = d.alias("d").join(u.alias("u"), F.col("d.doc_id") == F.col("u.doc_id"), "full_outer")
    merged = du.select(
        F.coalesce(F.col("u.doc_id"), F.col("d.doc_id")).alias("doc_id"),
        F.coalesce(F.col("u.text"), F.col("d.text")).alias("text"),
        F.when(F.col("d.doc_id").isNull(), "insert")
        .when(F.col("u.doc_id").isNull(), "carry")
        .otherwise("update")
        .alias("action"),
    )
    return merged.groupBy("action").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup (Common-Crawl recrawl collapse)
# ---------------------------------------------------------------------------
# Raw-url synthesis: the documents table has no url column, so
# both engines derive the SAME deterministic surface variants from
# (doc_id, source, lang) — scheme/www/case/tracking-param/trailing-slash/
# fragment noise around a shared path key (doc_id % 50). The operator
# under test is functions/urls.py canonical_url (differential-tested in
# tests/test_urls.py; the keep-latest operator twin is
# operators/dedup.url_dedup over real pages frames).
_RAW_URL_SQL = """
    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'http://' END
    || CASE WHEN doc_id % 7 = 0 THEN upper(source) ELSE source END
    || '.Example.COM/articles/' || (doc_id % 50)::VARCHAR
    || CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&ref=' || lang
            WHEN doc_id % 3 = 1 THEN '/' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN '#sec-' || doc_id::VARCHAR ELSE '' END
"""


def _raw_url_col():
    scheme = F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://WWW.")).otherwise(
        F.lit("http://")
    )
    host = F.when(F.col("doc_id") % 7 == 0, F.upper(F.col("source"))).otherwise(
        F.col("source")
    )
    path = F.concat(
        F.lit(".Example.COM/articles/"), (F.col("doc_id") % 50).cast("string")
    )
    suffix = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("/?utm_source=feed&ref="), F.col("lang")),
        )
        .when(F.col("doc_id") % 3 == 1, F.lit("/"))
        .otherwise(F.lit(""))
    )
    frag = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit("#sec-"), F.col("doc_id").cast("string")),
    ).otherwise(F.lit(""))
    return F.concat(scheme, host, path, suffix, frag)


@register(
    "url_canonical_dedup",
    f"""
    WITH raw AS (
        SELECT doc_id, {_RAW_URL_SQL} AS raw_url FROM documents
    ),
    canon AS (
        SELECT doc_id, raw_url,
               {_urls.canonical_url_sql('raw_url')} AS canonical_url
        FROM raw
    )
    SELECT canonical_url,
           count(*)::BIGINT AS n_docs,
           count(DISTINCT raw_url)::BIGINT AS n_raw_forms,
           min(doc_id)::BIGINT AS keeper_doc_id
    FROM canon
    GROUP BY canonical_url
    """,
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup summary: recrawl surface variants (scheme, www,
    host case, utm/fbclid/gclid params, fragments, trailing slashes)
    collapse onto one canonical url; the keeper is the min doc_id (the
    pages-frame twin, operators/dedup.url_dedup, keeps max warc_ts).
    At 100 TB canonicalization runs scan-side (native regexp chain, no
    Python) and the single shuffle keys on the canonical string — url
    dedup happens BEFORE any content hash or shingle is computed, so
    the expensive text operators see each page once."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    canon = docs.select(
        "doc_id",
        _raw_url_col().alias("raw_url"),
    ).withColumn("canonical_url", _urls.canonical_url("raw_url"))
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("raw_url").cast("bigint").alias("n_raw_forms"),
        F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
    )


# ---------------------------------------------------------------------------
# Host-level keep profile (C4 badlist / RefinedWeb blocklist shape)
# ---------------------------------------------------------------------------
@register(
    "host_keep_profile",
    f"""
    WITH raw AS (
        SELECT doc_id,
               {_RAW_URL_SQL} AS raw_url,
               {T.keep_expr_sql('text')} AS keep
        FROM documents
    )
    SELECT {_urls.host_sql(_urls.canonical_url_sql('raw_url'))} AS host,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_keep,
           round(sum(CASE WHEN keep THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS keep_rate
    FROM raw
    GROUP BY 1
    """,
)
def host_keep_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host keep rate — the report that feeds a domain blocklist
    (C4 maintains a host badlist; RefinedWeb filters whole domains
    before any per-document rule runs). Hosts with a pathological keep
    rate get blocked at the SOURCE level, so 100 TB of their pages are
    never scanned again. Reuses the synthesized raw urls (the documents
    table carries no url column) and the one-spec rule verdict.

    Scale shape: canonicalize + host-extract are scan-side native
    regexps fused into the scoring project (zero extra passes); the
    single shuffle keys on host with map-side partial counts, so a
    mega-host (half the crawl is one CDN domain) contributes one
    partial row per input partition, never a hot reduce task."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    scored = q.score_documents(docs, "text", _QCFG)
    hosted = scored.withColumn("raw_url", _raw_url_col()).withColumn(
        "host", _urls.host(_urls.canonical_url("raw_url"))
    )
    keep_i = F.when(F.col("keep"), 1).otherwise(0)
    return hosted.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(keep_i).cast("bigint").alias("n_keep"),
        F.round(F.sum(keep_i).cast("double") / F.count(F.lit(1)), 6).alias(
            "keep_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Robots-noindex politeness profile — the crawl-compliance filter
# (functions/links.meta_noindex) oracle-checked end to end. The
# parquet corpus carries no html column, so pages are synthesized
# from the documents table by the same deterministic md5 recipe in
# BOTH engines (the host_link_graph pattern); the regex that runs
# is the REAL production pattern, over html that embeds the full
# document text (so body bytes are scanned exactly as in the
# pages pipeline, where drop_noindex runs upstream of extraction).
# ---------------------------------------------------------------------------

# md5(doc_id || ':nx') first nibble → robots meta variant: both
# attribute orders of the noindex directive (4/16 name-first, 2/16
# content-first), an explicit index,follow control (1/16 — must NOT
# match), and no robots meta at all (9/16).
_NX_META_NAME_FIRST = '<meta name="robots" content="noindex,nofollow">'
_NX_META_CONTENT_FIRST = '<meta content="all noindex" name="robots">'
_NX_META_INDEX = '<meta name="robots" content="index,follow">'


@register(
    "noindex_politeness_filter",
    f"""
    WITH pages AS (
        SELECT lang,
               '<html><head>'
               || CASE WHEN substr({_doc_md5_sql("nx")}, 1, 1)
                           IN ('0', '1', '2', '3')
                       THEN '{_NX_META_NAME_FIRST}'
                       WHEN substr({_doc_md5_sql("nx")}, 1, 1)
                           IN ('4', '5')
                       THEN '{_NX_META_CONTENT_FIRST}'
                       WHEN substr({_doc_md5_sql("nx")}, 1, 1) = '6'
                       THEN '{_NX_META_INDEX}'
                       ELSE '' END
               || '</head><body><p>' || text || '</p></body></html>' AS html
        FROM documents
    ),
    flagged AS (
        SELECT lang,
               (regexp_matches(html, '{_links._NOINDEX_RES[0]}')
                OR regexp_matches(html, '{_links._NOINDEX_RES[1]}'))
                   AS noindex
        FROM pages
    )
    SELECT lang,
           count(*)::BIGINT AS n_pages,
           sum(CASE WHEN noindex THEN 1 ELSE 0 END)::BIGINT AS n_noindex,
           (count(*) - sum(CASE WHEN noindex THEN 1 ELSE 0 END))::BIGINT
               AS n_kept,
           round(sum(CASE WHEN noindex THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS noindex_rate
    FROM flagged
    GROUP BY lang
    """,
)
def noindex_politeness_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language robots-noindex rate — the politeness pre-filter's
    report (functions/links.drop_noindex runs the same predicate
    upstream of extraction in the pages pipeline). Pages asking to
    stay out of indexes are dropped BEFORE any quality scoring spends
    cycles on them; a per-language rate drift is the first sign a
    crawl snapshot changed its meta-tag conventions.

    Synthesized html embeds the FULL document text in the body, so the
    production regex (both attribute orders, Java rlike ≡ DuckDB RE2
    for every construct used — literal tag text, `\\s`, `[^>]*`
    classes) scans realistic page bytes; the md5-nibble variant mix
    plants name-first (4/16), content-first (2/16), explicit
    index,follow (1/16, a must-NOT-match control) and bare heads.

    Scale shape: decode + two rlike passes fuse into the scan project
    (zero extra passes, no Python); the single shuffle carries only
    (lang, bool) with map-side partial counts. At 100 TB the html
    bytes never move — exactly the drop_noindex plan, plus one count.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    nib = F.substring(_doc_md5("nx"), 1, 1)
    meta = (
        F.when(nib.isin("0", "1", "2", "3"), F.lit(_NX_META_NAME_FIRST))
        .when(nib.isin("4", "5"), F.lit(_NX_META_CONTENT_FIRST))
        .when(nib == "6", F.lit(_NX_META_INDEX))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html><head>"),
        meta,
        F.lit("</head><body><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    flagged = docs.select(
        "lang",
        _links.meta_noindex(F.encode(html, "UTF-8")).alias("noindex"),
    )
    ni = F.when(F.col("noindex"), 1).otherwise(0)
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pages"),
        F.sum(ni).cast("bigint").alias("n_noindex"),
        (F.count(F.lit(1)) - F.sum(ni)).cast("bigint").alias("n_kept"),
        F.round(F.sum(ni).cast("double") / F.count(F.lit(1)), 6).alias(
            "noindex_rate"
        ),
    )


# ---------------------------------------------------------------------------
# robots.txt longest-prefix-match politeness (RFC 9309) — the OTHER
# half of crawl compliance next to the meta-noindex filter: per-host
# allow/disallow path rules where the MOST SPECIFIC (longest)
# matching rule wins and allow beats disallow on ties. The parquet
# corpus carries no robots.txt bodies, so hosts and their rule
# tables are derived from doc_id by the deterministic md5 recipe
# (the host_link_graph pattern) — the longest-match join machinery
# that runs is the REAL operator shape.
# ---------------------------------------------------------------------------
@register(
    "robots_longest_match",
    f"""
    WITH pages AS (
        SELECT doc_id, lang,
               'h' || substr({_doc_md5_sql("rh")}, 1, 2) AS host,
               '/p/' || doc_id::VARCHAR AS path
        FROM documents
    ),
    hosts AS (SELECT DISTINCT host FROM pages),
    hd AS (
        SELECT host,
               (ascii(substr(md5(host || ':r1'), 1, 1)) % 10)::VARCHAR AS d1,
               (ascii(substr(md5(host || ':r2'), 1, 1)) % 10)::VARCHAR AS d2,
               ascii(substr(md5(host || ':r3'), 1, 1)) % 2 = 0 AS has_allow,
               ascii(substr(md5(host || ':r4'), 1, 1)) % 16 = 0 AS blanket
        FROM hosts
    ),
    rules AS (
        SELECT host, '/p/' || d1 AS prefix, FALSE AS allow FROM hd
        UNION ALL
        SELECT host, '/p/' || d1 || d2 AS prefix, TRUE AS allow
        FROM hd WHERE has_allow
        UNION ALL
        SELECT host, '/p/' AS prefix, FALSE AS allow FROM hd WHERE blanket
    ),
    matched AS (
        SELECT p.doc_id, p.lang, r.allow,
               row_number() OVER (
                   PARTITION BY p.doc_id
                   ORDER BY length(r.prefix) DESC, r.allow DESC
               ) AS rk
        FROM pages p
        JOIN rules r ON r.host = p.host AND starts_with(p.path, r.prefix)
    ),
    decided AS (
        SELECT p.lang, coalesce(m.allow, TRUE) AS allowed
        FROM pages p
        LEFT JOIN (SELECT doc_id, allow FROM matched WHERE rk = 1) m
               ON m.doc_id = p.doc_id
    )
    SELECT lang,
           count(*)::BIGINT AS n_pages,
           sum(CASE WHEN allowed THEN 0 ELSE 1 END)::BIGINT AS n_blocked,
           sum(CASE WHEN allowed THEN 1 ELSE 0 END)::BIGINT AS n_allowed,
           round(sum(CASE WHEN allowed THEN 0 ELSE 1 END)::DOUBLE
                 / count(*), 6) AS block_rate
    FROM decided
    GROUP BY lang
    """,
)
def robots_longest_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language crawl-block rate under RFC 9309 robots.txt
    longest-prefix-match semantics: each host carries a small rule
    table (a blanket ``Disallow: /p/`` on ~1/16 of hosts, a one-digit
    ``Disallow: /p/<d1>`` everywhere, and on half the hosts a more
    specific two-digit ``Allow: /p/<d1><d2>`` carve-out); a page is
    fetchable iff the LONGEST rule whose prefix matches its path says
    allow (allow wins length ties; no match ⇒ allowed). The carve-out
    exercises the part naive "any disallow matches ⇒ drop" filters get
    wrong.

    Scale shape: the rules side is tiny relative to pages (real
    robots tables are ~one row-group per crawl snapshot even at 10^12
    pages), so Spark broadcasts it; the decision is then a per-row
    higher-order fold over that host's ≤3-element rule array — array
    filter by prefix match, array_max over (length, allow) structs —
    all JVM-side, no explode, no per-rule row amplification, and the
    single real shuffle carries only (lang, bool) with map-side
    partials. The DuckDB oracle deliberately keeps the naive
    row-amplified rules-join + row_number form, so hash-equality
    cross-checks two independent formulations of the same semantics.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    did = F.col("doc_id").cast("string")
    pages = docs.select(
        "lang",
        F.concat(F.lit("h"), F.substring(_doc_md5("rh"), 1, 2)).alias("host"),
        F.concat(F.lit("/p/"), did).alias("path"),
    )

    def _nib(salt: str) -> Column:
        return F.ascii(
            F.substring(F.md5(F.concat(F.col("host"), F.lit(salt))), 1, 1)
        )

    d1 = (_nib(":r1") % 10).cast("string")
    d2 = (_nib(":r2") % 10).cast("string")
    has_allow = _nib(":r3") % 2 == 0
    blanket = _nib(":r4") % 16 == 0

    def _rule(prefix: Column, allow: bool) -> Column:
        return F.struct(prefix.alias("prefix"), F.lit(allow).alias("allow"))

    rules = (
        pages.select("host")
        .distinct()
        .select(
            "host",
            F.filter(
                F.array(
                    _rule(F.concat(F.lit("/p/"), d1), False),
                    F.when(
                        has_allow, _rule(F.concat(F.lit("/p/"), d1, d2), True)
                    ),
                    F.when(blanket, _rule(F.lit("/p/"), False)),
                ),
                lambda r: r.isNotNull(),
            ).alias("rules"),
        )
    )
    joined = pages.join(F.broadcast(rules), "host")
    best = F.array_max(
        F.transform(
            F.filter(
                F.col("rules"),
                lambda r: F.col("path").startswith(r["prefix"]),
            ),
            lambda r: F.struct(
                F.length(r["prefix"]).alias("l"), r["allow"].alias("a")
            ),
        )
    )
    decided = joined.withColumn("best", best).select(
        "lang",
        F.when(F.col("best").isNull(), F.lit(True))
        .otherwise(F.col("best")["a"])
        .alias("allowed"),
    )
    blk = F.when(F.col("allowed"), 0).otherwise(1)
    return decided.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pages"),
        F.sum(blk).cast("bigint").alias("n_blocked"),
        (F.count(F.lit(1)) - F.sum(blk)).cast("bigint").alias("n_allowed"),
        F.round(F.sum(blk).cast("double") / F.count(F.lit(1)), 6).alias(
            "block_rate"
        ),
    )
