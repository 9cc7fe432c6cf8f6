"""corpus_line_dedup: CCNet-style cross-document boilerplate removal."""

from __future__ import annotations

from pyspark.sql import functions as F

from textcleaning_spark.operators.boilerplate import corpus_line_dedup

FOOTER = "all rights reserved example inc"


def _pages(spark):
    rows = [
        (0, f"alpha content zero\n{FOOTER}"),
        (1, f"beta content one\nsecond beta line\n{FOOTER}"),
        (2, f"{FOOTER}\ngamma content two"),
        (3, FOOTER),  # page that is ONLY boilerplate
        (4, "delta content four\nunique closing line"),
        # within-doc repetition of a line no OTHER doc has: count of
        # DISTINCT docs is 1, so min_docs=3 must NOT remove it
        (5, "epsilon repeated\nepsilon repeated\nepsilon repeated"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _lines(df):
    return df.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "line")
    )


def test_cross_doc_footer_removed_unique_kept(spark):
    out = corpus_line_dedup(_lines(_pages(spark)), min_docs=3).orderBy("doc_id")
    got = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert got[0]["clean_text"] == "alpha content zero"
    assert (got[0]["n_lines"], got[0]["n_removed"]) == (2, 1)
    assert got[1]["clean_text"] == "beta content one\nsecond beta line"
    # footer-first page: surviving line order preserved
    assert got[2]["clean_text"] == "gamma content two"
    # all-boilerplate page stays present with empty text
    assert got[3]["clean_text"] == ""
    assert (got[3]["n_lines"], got[3]["n_removed"]) == (1, 1)
    # untouched page reassembles byte-identically
    assert got[4]["clean_text"] == "delta content four\nunique closing line"
    assert got[4]["n_removed"] == 0
    # within-doc-only repetition survives (1 distinct doc < min_docs)
    assert got[5]["clean_text"] == "epsilon repeated\nepsilon repeated\nepsilon repeated"
    assert got[5]["n_removed"] == 0


def test_threshold_boundary(spark):
    # FOOTER is on 4 distinct docs: min_docs=4 removes it, 5 keeps it
    lines = _lines(_pages(spark))
    at4 = corpus_line_dedup(lines, min_docs=4)
    assert at4.agg(F.sum("n_removed")).collect()[0][0] == 4
    at5 = corpus_line_dedup(lines, min_docs=5)
    assert at5.agg(F.sum("n_removed")).collect()[0][0] == 0


def test_plan_broadcasts_dup_set(spark):
    plan = corpus_line_dedup(
        _lines(_pages(spark)), min_docs=3
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_job_line_dedup_prepass(spark):
    """jobs/run_quality_filter.apply_line_dedup: footer on 3 pages is
    removed, unique lines survive, null-text (html-only) rows pass
    through untouched."""
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))))
    from jobs.run_quality_filter import apply_line_dedup

    rows = [
        ("u0", f"alpha body\n{FOOTER}", "en"),
        ("u1", f"beta body\n{FOOTER}", "en"),
        ("u2", f"{FOOTER}\ngamma body", "en"),
        ("u3", None, "en"),  # html-only page: text stays null
    ]
    pages = spark.createDataFrame(rows, ["url", "text", "lang"])
    out = {r["url"]: r["text"] for r in
           apply_line_dedup(pages, min_docs=3).collect()}
    assert out["u0"] == "alpha body"
    assert out["u1"] == "beta body"
    assert out["u2"] == "gamma body"
    assert out["u3"] is None
