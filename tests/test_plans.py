"""Physical-plan quality gates: these assert the plans STAY the plans
we'd want at 100 TB — column pruning reaches the parquet scan, filters
push down, dimension joins broadcast, the pipeline is shuffle-free,
and hot paths are whole-stage-codegen'd. A regression here is a perf
bug even if results stay correct."""

from __future__ import annotations

import re

from textcleaning_spark import queries as Q
from textcleaning_spark.config import DEFAULT_CONFIG
from textcleaning_spark.plans.pipeline import run_quality_pipeline
from textcleaning_spark.sources.pages import generate_pages
from tests.conftest import SF_ORACLE


def plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_cleaned_text_prunes_scan(spark):
    """Scan must read only (doc_id, text) — not lang/source/n_chars."""
    p = plan_str(Q.queries()["cleaned_text"](spark, SF_ORACLE))
    scan = [l for l in p.splitlines() if "FileScan parquet" in l][0]
    assert "doc_id" in scan and "text" in scan
    assert "n_chars" not in scan and "source" not in scan


def test_pipeline_is_shuffle_free(spark):
    """The per-document pipeline must contain no Exchange: score,
    verdict and scrub are all partition-local."""
    pages = generate_pages(spark, 100, seed=1, partitions=4)
    p = plan_str(run_quality_pipeline(pages))
    assert "Exchange" not in p


def test_pipeline_single_python_stage(spark):
    """Exactly one Arrow/Python eval for langid — the NLP kernel — and
    everything else stays JVM-side; the mapInPandas source runs once."""
    pages = generate_pages(spark, 100, seed=1, partitions=4)
    scored = run_quality_pipeline(pages)
    p = plan_str(scored)
    assert p.count("ArrowEvalPython") == 1, f"unexpected Python stages:\n{p}"
    assert p.count("MapInPandas") == 1, f"source planned more than once:\n{p}"
    assert "BatchEvalPython" not in p, "row-at-a-time Python UDF crept in"


def test_quality_profile_whole_stage_codegen(spark):
    """The native signal computation must be inside WholeStageCodegen
    (visible in the AQE final plan after execution)."""
    df = Q.queries()["doc_quality_profile"](spark, SF_ORACLE)
    df.collect()  # materialize so AQE finalizes the plan
    p = plan_str(df)
    assert "isFinalPlan=true" in p
    # '*(n)' operator prefixes mark WholeStageCodegen spans in toString()
    assert "*(1)" in p or "*(2)" in p or "WholeStageCodegen" in p


def test_cooccurrence_single_self_join_shuffles_on_word(spark):
    p = plan_str(Q.queries()["cooccurrence_edges"](spark, SF_ORACLE))
    # the J1 self-join: shuffles exist (groupBy + join) but the join
    # must be an equi-join (SortMerge/ShuffledHash), never NestedLoop
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_rollup_single_shuffle(spark):
    """ROLLUP = Expand + ONE hash aggregation pair: the grouping-set
    rows are expanded map-side, so the corpus shuffles exactly once
    (for the final agg)."""
    p = plan_str(Q.queries()["training_mix_report"](spark, SF_ORACLE))
    assert "Expand" in p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_char_bigram_ppl_model_broadcasts(spark):
    """The trained LM (|charset|²-bounded) must broadcast into the
    scoring joins — the corpus side never shuffles for the join."""
    p = plan_str(Q.queries()["char_bigram_ppl"](spark, SF_ORACLE))
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_upsert_single_shuffle_per_side(spark):
    """MERGE shape: full-outer join shuffles each side exactly once on
    the key (full outer cannot broadcast)."""
    p = plan_str(Q.queries()["incremental_upsert"](spark, SF_ORACLE))
    assert "FullOuter" in p
    assert p.count("Exchange hashpartitioning(doc_id") == 2


def test_winnow_fingerprints_shuffle_free(spark):
    """Winnowing is a per-row selection: one scan, zero Exchanges, no
    Python stage, and NO inferred-filter duplication — plain explode
    lets the optimizer push `size(__pos) > 0` below the Projects,
    re-inlining the whole winnowing tree into a pre-filter (everything
    computed twice); the explode_outer form must keep exactly one
    Filter, above the Generate."""
    p = plan_str(Q.queries()["winnow_fingerprints"](spark, SF_ORACLE))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # only the post-generate null filter ("Filter" also appears inside
    # the FileScan's PushedFilters/PartitionFilters annotations)
    import re

    assert len(re.findall(r"\bFilter (?:isnotnull|\()", p)) == 1
    assert "Filter isnotnull(pos" in p


def test_simhash_near_dup_stays_native(spark):
    """The hamming-band near-dup must be pure JVM expressions (no
    Python stage) and shuffle only the banded keys — no cartesian."""
    p = plan_str(Q.queries()["simhash_near_dup"](spark, SF_ORACLE))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_sequence_packing_single_exchange(spark):
    """The packing window partitions on (lang, shard) and the pack
    aggregation keys are a superset, so Catalyst must reuse the same
    distribution: exactly ONE Exchange, no global sort (only the
    intra-partition window sort)."""
    p = plan_str(Q.queries()["sequence_packing"](spark, SF_ORACLE))
    assert p.count("Exchange") == 1, p
    assert "rangepartitioning" not in p.lower()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_ppl_cutoff_routing_no_per_lang_sort(spark):
    """The CCNet cutoff scale path must contain NO window operator and
    no per-lang sort — routing is a broadcast of the languages-sized
    cutoff table plus two comparisons; the only corpus-wide exchange is
    the final groupBy(lang, bucket) with map-side partials. (The exact
    ntile oracle twin keeps its per-lang window by design.)"""
    p = plan_str(Q.queries()["ppl_cutoff_routing"](spark, SF_ORACLE))
    assert "Window" not in p, p
    assert "Sort " not in p and "SortExec" not in p, p
    # the cutoff table joins broadcast-side
    assert "BroadcastHashJoin" in p
    # sanity: the exact twin really is the windowed form
    p_exact = plan_str(Q.queries()["ppl_tertile_routing"](spark, SF_ORACLE))
    assert "Window" in p_exact


def test_decontam_broadcast_by_stats_not_forced(spark):
    """benchmark_decontam: the eval-span side must broadcast (training
    spans never shuffle for the join) WITHOUT a forced hint — a
    corpus-sized eval slice must be free to degrade to a shuffle join
    instead of OOMing executors."""
    df = Q.queries()["benchmark_decontam"](spark, SF_ORACLE)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "UnresolvedHint" not in logical and "ResolvedHint" not in logical
    p = plan_str(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_url_dedup_partial_topk_no_window(spark):
    """url_dedup's keep-latest must be a min_by aggregate with a real
    map-side PARTIAL phase (each partition reduces to one candidate
    per canonical url before the exchange) — not a window row_number,
    which has no partial and would shuffle the whole pages frame
    (ADVICE r3)."""
    from textcleaning_spark.operators.dedup import url_dedup

    p = plan_str(url_dedup(generate_pages(spark, 200, seed=5)))
    assert "Window" not in p, p
    assert "partial_min_by" in p, p
    assert p.count("min_by") >= 2  # partial + final phases


def test_incremental_crawl_dedup_bounded_and_hash_keyed(spark):
    """The cross-snapshot verdict: the exact leg joins on the md5
    column (raw text never becomes a join key), and the only window
    operators are the PPJoin prefix rankings — partitioned per
    DOCUMENT (bounded partitions), never corpus-global or per-lang."""
    p = plan_str(Q.queries()["incremental_crawl_dedup"](spark, SF_ORACLE))
    windows = [l for l in p.splitlines() if "Window" in l and "windowspecdef" not in l]
    for w in windows:
        assert "doc#" in w, w  # per-document partitioning only
    assert "md5" in p  # exact leg keyed on the hash, not the text


def test_dsir_single_weight_pass_and_topk(spark):
    """DSIR shape: the raw and target bucket counts come from ONE
    conditional aggregation, so the documents table is scanned exactly
    twice (weight model + scoring stream); the 256-row weight table
    reaches the gram stream as a broadcast; selection compiles to
    TakeOrderedAndProject, never a global sort of the corpus."""
    df = Q.queries()["dsir_selection"](spark, SF_ORACLE)
    p = plan_str(df)
    assert p.count("FileScan parquet") == 2, p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    # the only Sort allowed is inside the 25-row post-limit rank window
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "UnresolvedHint" not in logical


def test_semdedup_assignment_shuffle_free(spark):
    """SemDedup shape: centroid assignment is a narrow projection
    (literal centroids — no row amplification, no broadcast join, no
    Exchange between the scan and cluster_id); the pair stage is an
    equi-join on cluster_id (no cartesian / nested-loop fallback) with
    size-decided build sides (no forced hints — at 100 TB it must be
    free to degrade to a shuffle join keyed on cluster_id)."""
    df = Q.queries()["semdedup_keep"](spark, SF_ORACLE)
    p = plan_str(df)
    # one scan per use of the embeddings frame: assigned, pair-a, pair-b
    # — an Exchange-fed reuse or an extra amplifying join would change it
    assert p.count("FileScan parquet") == 3, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "UnresolvedHint" not in logical and "ResolvedHint" not in logical


def test_pipeline_funnel_single_scan_hash_shuffle(spark):
    """Funnel shape: ONE corpus scan, verdict/token computed scan-side,
    everything collapses through the md5-key aggregation — a second
    scan would mean some stage is recounted from raw text."""
    p = plan_str(Q.queries()["pipeline_funnel"](spark, SF_ORACLE))
    assert p.count("FileScan parquet") == 1, p
    scan = [l for l in p.splitlines() if "FileScan parquet" in l][0]
    assert "text" in scan and "doc_id" not in scan  # only text read


def test_minhash_lsh_recall_scan_behind_one_checkpoint(spark):
    """Recall audit shape: every corpus access goes through the single
    checkpointed token-set frame (truth AND signatures derive from
    it), so the outer plan holds NO parquet scan; the scalar crosses
    are 1-row broadcasts, never a real cartesian."""
    p = plan_str(Q.queries()["minhash_lsh_recall"](spark, SF_ORACLE))
    assert "FileScan parquet" not in p, p
    assert "CartesianProduct" not in p


def test_quality_drift_psi_tiny_frame_after_one_shuffle(spark):
    """PSI shape: the corpus collapses through the checkpointed
    (signal, source, bucket) count — the outer plan must contain no
    parquet scan (no stage recounts from raw text) and every join over
    the tiny grid frames must broadcast, never sort-merge."""
    p = plan_str(Q.queries()["quality_drift_psi"](spark, SF_ORACLE))
    assert "FileScan parquet" not in p, p
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p


def test_nb_calibration_reuses_confusion_chain(spark):
    """Calibration shape: identical scored chain as the confusion
    (vocab log-odds broadcast, no cartesian); the bin agg adds one
    ≤21-key hash aggregate, no extra corpus pass (labeled frame is
    the checkpoint — outer plan scans no parquet)."""
    p = plan_str(Q.queries()["nb_calibration"](spark, SF_ORACLE))
    assert "FileScan parquet" not in p, p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_rule_ablation_one_scoring_scan_plus_countstar(spark):
    """Ablation shape: the rule chain runs in ONE scoring scan; the
    corpus total is a second scan but count-star (no data columns —
    parquet footer counts only), crossed in as a 1-row broadcast."""
    p = plan_str(Q.queries()["rule_ablation"](spark, SF_ORACLE))
    scans = [l for l in p.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 2, p
    countstar = [l for l in scans if "ReadSchema: struct<>" in l]
    assert len(countstar) == 1, scans


def test_bloom_bitmap_is_single_literal(spark):
    """The bloom bitmap must be constant-folded into ONE array literal:
    a CreateArray with |bitmap| children re-materializes per row
    (measured 52 s vs ~3 s at sf0.1) and from_json must not survive to
    the executed plan."""
    df = Q.queries()["decontam_bloom_prefilter"](spark, SF_ORACLE)
    p = df._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in p
    assert "might_contain" not in p  # ours is bit math, not the internal expr
    # the membership test stays native: no Python stage anywhere
    assert "Python" not in plan_str(df)


def test_cms_topk_no_global_sort(spark):
    """Exact top-k candidates come from TakeOrderedAndProject, not a
    global sort of the word table; the final tiny result may sort."""
    p = plan_str(Q.queries()["cms_heavy_hitters"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in p


def test_linkgraph_edges_partial_agg(spark):
    """host_link_graph's single shuffle is a real aggregate: map-side
    partial_count before the exchange bounds hub hosts."""
    p = plan_str(Q.queries()["host_link_graph"](spark, SF_ORACLE))
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_count" in p


def test_pipeline_counts_each_scrub_rule_once(spark):
    """The scrub chain is gated on the rule counts, not on a second
    whole-document regex pass: no RLIKE on the text, and each rule
    pattern is counted once — CollapseProject has not copied the
    ``scrub_hits`` counts into ``scrubbed_text``'s gate."""
    pages = generate_pages(spark, 100, seed=1, partitions=4)
    p = plan_str(run_quality_pipeline(pages))
    # the one RLIKE left is score_documents' per-token letter test
    assert re.findall(r"RLIKE\([^,]*, ([^)]*)\)", p) == [r"\p{L}"], p
    pats = [pat for _n, pat, _r in DEFAULT_CONFIG.scrub.rules]
    pats += [rf"\b{t}\b" for t in DEFAULT_CONFIG.scrub.toxic_terms]
    for pat in pats:
        counted = re.findall(rf"regexp_extract_all\(text#\d+, {re.escape(pat)}, 0\)", p)
        assert len(counted) == 1, pat
