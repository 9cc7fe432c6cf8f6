"""Recipes that more than one query family uses, each spelled once per
engine: the DuckDB token list, the default quality config, the salted
per-document md5 and the sliding word-span frame."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from textcleaning_spark.config import QualityConfig
from textcleaning_spark.functions import text as T

_TOK = T.tokens_sql("text")
_QCFG = QualityConfig()


def _doc_md5(salt: str, *more: Column) -> Column:
    """``md5(doc_id || ':<salt>' [|| more])`` — the per-document hash
    behind every md5-prefix sample or split and every attribute derived
    from doc_id, identical in every engine, run and partitioning. Each
    caller cuts its own prefix and compares it to its own cutoff."""
    return F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(f":{salt}"), *more)
    )


def _doc_md5_sql(salt: str, *more: str) -> str:
    """DuckDB twin of :func:`_doc_md5`."""
    return "md5(" + " || ".join(("doc_id::VARCHAR", f"':{salt}'", *more)) + ")"


def _doc_word_spans(docs: DataFrame, w: int) -> DataFrame:
    """(doc_id, span) rows of sliding word w-grams. The guard keeps
    sequence(1, n) from emitting descending indices when n < 1
    (its step defaults to -1)."""
    toked = docs.select("doc_id", T.tokens("text").alias("__toks"))
    toks = F.col("__toks")
    spans = F.when(
        F.size(toks) >= w,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (w - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(w))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toked.select("doc_id", F.explode(spans).alias("span"))


def _doc_word_spans_sql(w: int) -> str:
    """CTEs ``tok`` and ``sp`` (doc_id, span): DuckDB twin of
    :func:`_doc_word_spans` over the documents table."""
    return f"""tok AS (
        SELECT doc_id, {_TOK} AS toks FROM documents
    ),
    sp AS (
        SELECT doc_id,
               array_to_string(list_slice(toks, i, i + {w - 1}), ' ') AS span
        FROM tok,
             unnest(range(1, greatest(len(toks) - {w} + 2, 1)::BIGINT)) AS t(i)
    )"""
