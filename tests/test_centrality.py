"""Harmonic centrality: exact truncated twin + HyperBall sketch.

Hand-checked exact values on small graphs (min-dist semantics, cycles,
self-exclusion), integer-nano partition invariance, and the sketch's
determinism + measured accuracy against the exact twin — the same
truth-vs-approximation discipline as test_drift_recall (LSH).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from textcleaning_spark.operators.centrality import (
    hyperball_harmonic,
    truncated_harmonic,
)
from textcleaning_spark.operators.linkgraph import host_edges
from textcleaning_spark.sources.pages import generate_pages


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs], "src_host string, dst_host string"
    )


def _exact(spark, pairs, radius=3):
    df = truncated_harmonic(_edges(spark, pairs), radius=radius)
    return {r["host"]: (r["n_reaching"], r["harmonic"]) for r in df.collect()}


def test_chain_and_shortcut(spark):
    # a->b, b->c, a->c: d(a,c)=1 (shortcut wins over the 2-path)
    got = _exact(spark, [("a", "b"), ("b", "c"), ("a", "c")])
    assert got == {"a": (0, 0.0), "b": (1, 1.0), "c": (2, 2.0)}


def test_diamond_min_dist(spark):
    # a->b, a->c, b->d, c->d: H(d) = 1 + 1 + 1/2 (a at distance 2)
    got = _exact(spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")])
    assert got["d"] == (3, 2.5)
    assert got["b"] == (1, 1.0) and got["c"] == (1, 1.0)
    assert got["a"] == (0, 0.0)


def test_cycle_excludes_self(spark):
    # a->b->a: each reaches the other at 1; the dist-2 return to self
    # is excluded (u != v)
    got = _exact(spark, [("a", "b"), ("b", "a")])
    assert got == {"a": (1, 1.0), "b": (1, 1.0)}


def test_radius_truncation(spark):
    # path a->b->c->d->e: radius 2 sees only dist<=2 predecessors
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    got = _exact(spark, pairs, radius=2)
    assert got["e"] == (2, 1.5)  # d at 1, c at 2; a,b beyond radius
    got3 = _exact(spark, pairs, radius=3)
    assert got3["e"][0] == 3 and abs(got3["e"][1] - (1.5 + 1 / 3)) < 1e-9


def test_exact_partition_invariant(spark):
    edges = host_edges(generate_pages(spark, 300, seed=13))
    a = {r["host"]: r["harmonic_nano"] for r in truncated_harmonic(edges, 2).collect()}
    b = {
        r["host"]: r["harmonic_nano"]
        for r in truncated_harmonic(edges.repartition(23), 2).collect()
    }
    assert a == b


def test_hyperball_deterministic(spark):
    edges = host_edges(generate_pages(spark, 200, seed=13))
    a = {r["host"]: r["harmonic_est"] for r in hyperball_harmonic(edges, 2).collect()}
    b = {
        r["host"]: r["harmonic_est"]
        for r in hyperball_harmonic(edges.repartition(7), 2).collect()
    }
    assert a == b  # xxhash64 registers + fixed double math: bit-stable


def test_hyperball_accuracy_vs_exact(spark):
    """Measured on the md5-derived graph: median rel err ~6% with m=64.
    The bound here is loose (median ≤ 15%, 90% of hosts within 40%) so
    it catches a broken estimator, not estimator noise."""
    from textcleaning_spark.queries.graph import _lg_edges
    from textcleaning_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select("doc_id")
    edges = _lg_edges(docs).localCheckpoint(eager=False)
    ex = {r["host"]: r["harmonic"] for r in truncated_harmonic(edges, 3).collect()}
    hb = {
        r["host"]: r["harmonic_est"] for r in hyperball_harmonic(edges, 3).collect()
    }
    assert set(ex) == set(hb)
    rel = sorted(abs(hb[h] - ex[h]) / ex[h] for h in ex if ex[h] > 0)
    assert rel, "degenerate graph: nothing reachable"
    assert rel[len(rel) // 2] <= 0.15, f"median rel err {rel[len(rel) // 2]:.3f}"
    assert rel[int(0.9 * len(rel))] <= 0.40
    # estimates are non-negative and zero exactly where exact is zero-in
    for h, e in ex.items():
        assert hb[h] >= 0.0
        if e == 0.0:
            assert hb[h] == 0.0, h


def test_hyperball_singleton_ball_linear_counting(spark):
    """A node with no in-edges keeps H=0; its r=0 ball estimate sits in
    the linear-counting regime (est(1 element) ≈ 1), which is what
    keeps the telescoping differences sane at small radii."""
    from textcleaning_spark.operators.centrality import (
        _estimate,
        _init_registers,
    )

    nodes = spark.createDataFrame([(f"n{i}",) for i in range(50)], "host string")
    est = _estimate(_init_registers(nodes, 6), 6)
    vals = [r["est"] for r in est.collect()]
    assert all(abs(v - 1.0) < 0.05 for v in vals)


def test_targets_variant_equals_full_exact_restricted(spark):
    """truncated_harmonic_targets (reversed-edge BFS seeded at the
    sample) must be ROW-IDENTICAL to the full exact twin restricted to
    the same hosts — the property that lets the HyperBall audit sample
    its truth side without changing gate semantics."""
    from textcleaning_spark.operators.centrality import (
        truncated_harmonic_targets,
    )
    from textcleaning_spark.queries.graph import _lg_edges
    from textcleaning_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select("doc_id")
    edges = _lg_edges(docs).localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    sample = nodes.filter(
        F.substring(F.md5(F.concat(F.col("host"), F.lit(":hbsample"))), 1, 1).isin(
            "0", "1", "2", "3", "4"
        )
    )
    sampled_hosts = {r["host"] for r in sample.collect()}
    assert 10 < len(sampled_hosts) < nodes.count(), "sample degenerate"
    full = {
        r["host"]: (r["n_reaching"], r["harmonic_nano"], r["harmonic"])
        for r in truncated_harmonic(edges, 3).collect()
        if r["host"] in sampled_hosts
    }
    got = {
        r["host"]: (r["n_reaching"], r["harmonic_nano"], r["harmonic"])
        for r in truncated_harmonic_targets(edges, sample, 3).collect()
    }
    assert got == full


def test_targets_variant_dangling_target(spark):
    """A sampled host with no in-paths must appear with zeros (the
    seeds frame, not the pair frame, defines the output rows)."""
    from textcleaning_spark.operators.centrality import (
        truncated_harmonic_targets,
    )

    edges = _edges(spark, [("a", "b"), ("b", "c")])
    targets = spark.createDataFrame([("a",), ("c",)], "host string")
    got = {
        r["host"]: (r["n_reaching"], r["harmonic"])
        for r in truncated_harmonic_targets(edges, targets, 3).collect()
    }
    assert got == {"a": (0, 0.0), "c": (2, 1.5)}
