"""Corpus-level boilerplate line removal (CCNet-style paragraph dedup).

CCNet (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data") deduplicates Common-Crawl text at the
PARAGRAPH level across the whole corpus: a line that recurs on many
pages — nav menus, cookie banners, copyright footers — is boilerplate
and is dropped from every page, regardless of each page's own quality
score. The reference pipeline only filters WITHIN-document repetition
(dup-line fraction; the keep rule in plans/pipeline.py), so this
operator supplies the cross-document half a 100 TB crawl needs.

Scale shape
-----------
* Occurrence counting groups on the 64-bit ``xxhash64`` of the line,
  not the line string, so the counting shuffle moves 8-byte keys
  instead of raw text (``boilerplate_line_scrub``'s DuckDB oracle
  groups on the string, so the registry checks that the two agree).
* The dup set (lines on >= ``min_docs`` DISTINCT pages) is the
  boilerplate vocabulary of the crawl — tiny relative to the corpus —
  so it is broadcast back as a hash join.
* Per-document reassembly shuffles on the document id once;
  ``collect_list`` of (pos, line) structs + ``array_sort`` keeps the
  rebuild deterministic without a window sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def corpus_line_dedup(
    lines: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    line_col: str = "line",
    min_docs: int = 3,
    joiner: str = "\n",
) -> DataFrame:
    """Remove lines that occur on >= ``min_docs`` distinct documents.

    ``lines`` is an exploded (id, pos, line) frame — one row per line,
    ``pos`` unique within a document (ordering only; any monotone
    numbering works). Returns one row per document::

        (id_col, n_lines BIGINT, n_removed BIGINT, clean_text STRING)

    ``clean_text`` is the surviving lines re-joined with ``joiner`` in
    ``pos`` order ('' when every line was boilerplate). Documents with
    zero input lines produce zero output rows (nothing to rebuild).
    """
    with_key = lines.withColumn("__lk", F.xxhash64(line_col))
    dup = F.broadcast(
        with_key.groupBy("__lk")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= F.lit(min_docs))
        .select("__lk", F.lit(True).alias("__dup"))
    )
    flagged = with_key.join(dup, "__lk", "left").withColumn(
        "__dup", F.coalesce(F.col("__dup"), F.lit(False))
    )
    # collect_list skips nulls, so the when() keeps only surviving
    # lines; array_sort on (pos, line) structs orders by pos (unique
    # within a doc) — deterministic rebuild, no window needed.
    kept = F.array_sort(
        F.collect_list(
            F.when(
                ~F.col("__dup"),
                F.struct(F.col(pos_col).alias("p"), F.col(line_col).alias("l")),
            )
        )
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("__dup").cast("int")).cast("bigint").alias("n_removed"),
        F.array_join(F.transform(kept, lambda x: x["l"]), joiner).alias("clean_text"),
    )
