"""Behavior tests for DSIR selection — a semantic property the oracle
equality can't prove (both engines agreeing doesn't show the math
MEANS anything): DSIR must actually pull the target distribution
forward."""

from __future__ import annotations

from pyspark.sql import functions as F

from textcleaning_spark import queries as Q
from textcleaning_spark.sources.registry import load_table
from tests.conftest import SF_ORACLE


def test_dsir_selection_enriches_target(spark):
    """Importance resampling with target = the `en` slice must select a
    top-25 that is MORE en than the corpus base rate — otherwise the
    log-ratio weights carry no signal and the whole operator is an
    expensive random sample."""
    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "lang")
    sel = Q.queries()["dsir_selection"](spark, SF_ORACLE).join(docs, "doc_id")
    frac_sel = sel.filter(F.col("lang") == "en").count() / sel.count()
    base = docs.filter(F.col("lang") == "en").count() / docs.count()
    assert frac_sel > base, (frac_sel, base)
