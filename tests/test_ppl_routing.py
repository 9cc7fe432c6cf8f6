"""ppl_cutoff_routing (CCNet cutoff scale path) vs ppl_tertile_routing
(exact ntile oracle twin): same buckets up to ties at the cutoff values.

The exact form ranks every doc inside a per-lang window (one partition
per language — fine at bench scale, fatal at 100 TB); the scale form
routes on per-lang approx_percentile cutoffs broadcast to the scan. At
test scale approx_percentile's accuracy (10k) exceeds the group sizes,
so the cutoffs are the exact 1/3- and 2/3-quantile observed values and
the ONLY legitimate divergence is documents tied exactly at a cutoff
(ntile splits ties by doc_id rank; the cutoff comparison routes all
ties to the lower bucket).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from textcleaning_spark import queries as Q
from tests.conftest import SF_ORACLE


def test_cutoff_routing_matches_exact_within_ties(spark):
    exact = {
        (r["lang"], r["bucket"]): r["n_docs"]
        for r in Q.queries()["ppl_tertile_routing"](spark, SF_ORACLE).collect()
    }
    cut = {
        (r["lang"], r["bucket"]): r["n_docs"]
        for r in Q.queries()["ppl_cutoff_routing"](spark, SF_ORACLE).collect()
    }
    assert set(k[0] for k in exact) == set(k[0] for k in cut)

    # per-lang totals must agree exactly — routing never drops a doc
    langs = {k[0] for k in exact}
    for lang in langs:
        t_exact = sum(v for k, v in exact.items() if k[0] == lang)
        t_cut = sum(v for k, v in cut.items() if k[0] == lang)
        assert t_exact == t_cut, (lang, t_exact, t_cut)

    # per-bucket counts agree within the number of docs tied AT the
    # two cutoff values (computed from the scored frame itself)
    base = Q.selection.char_bigram_ppl(spark, SF_ORACLE)
    docs = Q.selection.load_table(spark, SF_ORACLE, "documents").select("doc_id", "lang")
    scored = base.join(docs, "doc_id")
    cuts = scored.groupBy("lang").agg(
        F.percentile_approx(
            "ppl", F.array(F.lit(1.0 / 3.0), F.lit(2.0 / 3.0)), F.lit(10000)
        ).alias("c")
    )
    ties = {
        r["lang"]: r["n_tied"]
        for r in scored.join(cuts, "lang")
        .filter((F.col("ppl") == F.col("c")[0]) | (F.col("ppl") == F.col("c")[1]))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_tied"))
        .collect()
    }
    for lang in langs:
        tol = ties.get(lang, 0)
        for bucket in ("head", "middle", "tail"):
            a = exact.get((lang, bucket), 0)
            b = cut.get((lang, bucket), 0)
            assert abs(a - b) <= tol, (lang, bucket, a, b, tol)
