"""MinHash-LSH candidate recall: band collisions must find the true
token-set Jaccard near-duplicate pairs while pruning the pair space.
"""

from __future__ import annotations

from textcleaning_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signature,
    token_jaccard_pairs,
)
from textcleaning_spark.sources.registry import load_table
from tests.conftest import SF_ORACLE


def test_minhash_lsh_finds_true_near_dups(spark):
    """Candidate generation must recall (nearly) all true near-dup
    pairs: P(collide) = 1-(1-j^2)^bands ≈ 1.0 at j ≥ 0.96."""
    docs = load_table(spark, SF_ORACLE, "documents")
    true_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in token_jaccard_pairs(docs, "doc_id", "text", 0.96).collect()
    }
    sigs = minhash_signature(docs, "doc_id", "text", k=8)
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(sigs, "doc_id", k=8, bands=4).collect()
    }
    assert true_pairs, "fixture should contain near-dup pairs"
    recall = len(true_pairs & cands) / len(true_pairs)
    assert recall >= 0.9, f"near-dup candidate recall {recall}"
    n = docs.count()
    assert len(cands) < n * (n - 1) / 2  # strictly prunes the pair space
