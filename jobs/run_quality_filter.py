#!/usr/bin/env python
"""spark-submit entrypoint for the quality-filter pipeline (north_rule:
"ships via spark-submit --py-files").

Usage (cluster or local):

    spark-submit --master <master> \
        --py-files dist/textcleaning_spark.zip \
        jobs/run_quality_filter.py \
        --input /path/to/pages_parquet \
        --output /path/to/cleaned \
        --audit /path/to/audit \
        [--resume] [--synthetic-docs N]

The job reads a ``pages(url, warc_ts, html, text, lang)`` parquet/
Iceberg table, runs extract → langid → heuristic rules → keep/drop →
PII/toxicity scrub, and writes the cleaned table partitioned by
lineage bucket plus a per-(bucket, lang) rule-hit metrics audit table,
in one pass through ``plans/audit.run_resumable``: the corpus is
scored once, written once and never cached. Every run skips the
lineage buckets the audit table already records; ``--resume`` says
that the audit table may already exist, and without it the job refuses
to start over an earlier run's audit.

``--synthetic-docs N`` generates the deterministic synthetic corpus
instead of reading ``--input`` (for smoke tests and soak runs; the
generator is distributed via mapInPandas, no driver bottleneck).

The final line on stdout is one JSON object with row counts,
machine-checkable by the caller: ``newly_processed`` is the rows this
run wrote, and ``kept_total`` is ``sum(n_keep)`` over the stage's
audit rows, i.e. the kept rows of every bucket written so far.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="pages parquet directory")
    p.add_argument("--output", required=True, help="cleaned-table output dir")
    p.add_argument("--audit", required=True, help="audit/metrics table dir")
    p.add_argument(
        "--resume",
        action="store_true",
        help="continue an earlier run: its audit table may already exist",
    )
    p.add_argument(
        "--synthetic-docs",
        type=int,
        default=0,
        help="generate N synthetic pages instead of reading --input",
    )
    p.add_argument(
        "--line-dedup-min-docs",
        type=int,
        default=0,
        help=(
            "CCNet-style pre-pass: drop lines occurring on >= N distinct "
            "pages (nav/footer boilerplate) before scoring; 0 = off. "
            "Batch-only — adds a corpus-wide count + rebuild (two "
            "shuffles) ahead of the per-doc pipeline."
        ),
    )
    return p.parse_args(argv)


def apply_line_dedup(pages, min_docs: int):
    """CCNet-style pre-pass (batch mode only): rebuild ``text`` with
    lines occurring on >= ``min_docs`` distinct pages removed
    (operators/boilerplate.corpus_line_dedup). Pages whose ``text`` is
    null (html-only rows) pass through untouched via the left join.

    NOTE: the rebuild also drops blank lines. The per-url byte-identity
    invariant vs the reference applies to the DEFAULT pipeline; this
    flag is an opt-in text transformation and changes bytes by design."""
    from pyspark.sql import functions as F

    from textcleaning_spark.operators.boilerplate import corpus_line_dedup

    lines = pages.select(
        "url", F.posexplode(F.split("text", "\n")).alias("pos", "line")
    ).filter(F.col("line") != "")
    rebuilt = corpus_line_dedup(lines, id_col="url", min_docs=min_docs).select(
        "url", F.col("clean_text").alias("__dedup_text")
    )
    return (
        pages.join(rebuilt, "url", "left")
        .withColumn("text", F.coalesce(F.col("__dedup_text"), F.col("text")))
        .drop("__dedup_text")
    )


def main(argv: list[str] | None = None) -> dict:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    if os.path.exists(args.audit) and not args.resume:
        raise SystemExit(
            f"{args.audit} holds an earlier run's audit; pass --resume to continue it"
        )
    # getOrCreate picks up the conf provided by spark-submit (master,
    # executor sizing, shuffle partitions); only app-level defaults here.
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("textcleaning-quality-filter")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from pyspark.sql import functions as F

    from textcleaning_spark.plans import audit
    from textcleaning_spark.plans.pipeline import run_quality_pipeline

    if args.synthetic_docs:
        from textcleaning_spark.sources.pages import generate_pages

        pages = generate_pages(spark, args.synthetic_docs, seed=1234, partitions=8)
    else:
        if not args.input:
            raise SystemExit("--input or --synthetic-docs is required")
        pages = spark.read.parquet(args.input)

    if args.line_dedup_min_docs > 0:
        pages = apply_line_dedup(pages, args.line_dedup_min_docs)

    scored = run_quality_pipeline(pages)
    n_new = audit.run_resumable(scored, spark, args.output, args.audit)
    n_keep = 0
    if os.path.exists(args.audit):
        n_keep = (
            spark.read.format(audit.storage_format(spark))
            .load(args.audit)
            .filter(F.col("stage") == audit.STAGE)
            .agg(F.sum("n_keep"))
            .first()[0]
        ) or 0
    summary = {
        "stage": audit.STAGE,
        "newly_processed": n_new,
        "kept_total": n_keep,
        "resumed": bool(args.resume),
    }
    print(json.dumps(summary))
    spark.stop()
    return summary


if __name__ == "__main__":
    main()
