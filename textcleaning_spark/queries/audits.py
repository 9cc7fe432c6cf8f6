"""Audits family: scrub parity, rule hits and ablation, quality drift,
sketch accuracy gates (HLL, Count-Min), BPE checks and the Luhn-gated
card-number audit."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from textcleaning_spark.config import ScrubConfig
from textcleaning_spark.functions import text as T
from textcleaning_spark.functions.scrub import (
    _rule_patterns,
    _toxic_pattern,
    scrub_chain,
)
from textcleaning_spark.operators import quality as q
from textcleaning_spark.queries import register
from textcleaning_spark.queries.common import (
    _QCFG,
    _TOK,
    _doc_md5,
    _doc_md5_sql,
    _doc_word_spans,
)
from textcleaning_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# PII / toxicity scrub parity (F9 generalized; north_rule scrub)
# ---------------------------------------------------------------------------
_SCRUB = ScrubConfig(toxic_terms=("spark",))
_TOX_PAT = _toxic_pattern(*_SCRUB.toxic_terms)


def _scrub_sql(col: str) -> str:
    """DuckDB twin of ``scrub_chain``: the same patterns, from the same
    builder, in the same order."""
    out = col
    for _name, pat, rep in _rule_patterns(_SCRUB):
        p = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{rep}', 'g')"
    return out


@register(
    "scrub_parity",
    f"""
    SELECT doc_id,
           md5({_scrub_sql('text')}) AS scrub_hash,
           len(regexp_extract_all(text, '{_TOX_PAT}'))::BIGINT AS tox_hits
    FROM documents
    """,
)
def scrub_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compiled-regex scrub chain (email/SSN/phone/IP + toxic terms),
    native regexp_replace — byte-level parity checked via md5."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.encode(scrub_chain(F.col("text"), _SCRUB), "UTF-8")).alias("scrub_hash"),
        F.regexp_count(F.col("text"), F.lit(_TOX_PAT)).cast("bigint").alias("tox_hits"),
    )


# ---------------------------------------------------------------------------
# Per-rule hit metrics (north_rule: "rule-hit metrics" audit table)
# ---------------------------------------------------------------------------
# the published signals, the sig CTE of the rule-hit queries
_SIG_CTE = f"sig AS (SELECT lang, {T.signals_sql('text')} FROM documents)"


@register(
    "rule_hit_profile",
    f"""
    WITH {_SIG_CTE}
    SELECT lang, reason, count(*)::BIGINT AS n_docs
    FROM (
        SELECT lang,
               unnest({T.drop_reasons_sql()}) AS reason
        FROM sig
    )
    GROUP BY lang, reason
    """,
)
def rule_hit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule violation counts by language — the aggregation the
    audit stage persists per partition (north_rule: 'per-partition
    lineage + metrics'; operators/quality.drop_reasons is the
    row-level payload). Dual-spec: the Spark side explodes the
    drop_reasons array; the oracle rebuilds each rule from the SAME
    rule table (config.QUALITY_RULES) over the *_sql signal fragments
    — the CLAUDE.md dual-spec invariant. Signals are compared at their
    published 6-decimal rounding on BOTH sides, matching what
    drop_reasons itself sees."""
    docs = load_table(spark, sf_dir, "documents")
    scored = q.drop_reasons(q.score_documents(docs))
    # explode_outer, not explode: for an attribute child the optimizer
    # infers `size(drop_reasons) > 0` and pushes it below the scoring
    # Projects with alias substitution, re-inlining the ENTIRE rule
    # pipeline into a pre-filter (2,191-char condition — everything
    # computed twice per row; measured ~1.5× on this query). Reasons
    # are non-null strings, so the post-generate null filter is exact.
    return (
        scored.select("lang", F.explode_outer("drop_reasons").alias("reason"))
        .filter(F.col("reason").isNotNull())
        .groupBy("lang", "reason")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Quality-signal drift (PSI per source) — the monitoring report a
# crawl-over-crawl pipeline runs to catch a source whose quality
# profile shifted before the shifted data reaches training.
# ---------------------------------------------------------------------------
def _psi_bucket_sql() -> str:
    """DuckDB (signal, bucket) pairs matching :func:`quality_drift_psi`."""
    nw = T.n_words_sql("text")
    mwl = f"round({T.mean_word_len_sql('text')}, 6)"
    stop = T.stop_word_count_sql("text")
    return f"""
        SELECT source, u.signal,
               CASE u.signal
                   WHEN 'log2_tokens' THEN
                       coalesce((length(bin({nw})) - 1)::INT, -1)
                   WHEN 'mean_word_len' THEN
                       coalesce(floor({mwl} * 2)::INT, -1)
                   ELSE coalesce(floor(round(CASE WHEN {nw} > 0
                       THEN {stop}::DOUBLE / {nw} END, 6) * 10)::INT, -1)
               END AS bucket
        FROM documents,
             (SELECT unnest(['log2_tokens', 'mean_word_len', 'stop_frac'])
                     AS signal) u
    """


@register(
    "quality_drift_psi",
    f"""
    WITH ex AS ({_psi_bucket_sql()}),
    cnt AS (
        SELECT signal, source, bucket, count(*)::BIGINT AS c
        FROM ex GROUP BY 1, 2, 3
    ),
    srcs AS (
        SELECT signal, source, sum(c)::BIGINT AS n_s FROM cnt GROUP BY 1, 2
    ),
    gdist AS (
        SELECT signal, bucket, sum(c)::BIGINT AS g FROM cnt GROUP BY 1, 2
    ),
    tot AS (
        SELECT signal, sum(c)::BIGINT AS n,
               count(DISTINCT bucket)::BIGINT AS bcount
        FROM cnt GROUP BY 1
    ),
    grid AS (
        SELECT s.signal, s.source, g.bucket, s.n_s, g.g,
               coalesce(c.c, 0)::BIGINT AS c
        FROM srcs s
        JOIN gdist g ON s.signal = g.signal
        LEFT JOIN cnt c ON c.signal = s.signal AND c.source = s.source
                        AND c.bucket = g.bucket
    )
    SELECT grid.signal, grid.source, max(grid.n_s)::BIGINT AS n_docs,
           round(sum(CAST(round(
               ((grid.c::DOUBLE + 0.5) / (grid.n_s::DOUBLE + 0.5 * tot.bcount)
                - (grid.g::DOUBLE + 0.5) / (tot.n::DOUBLE + 0.5 * tot.bcount))
               * ln(((grid.c::DOUBLE + 0.5)
                     / (grid.n_s::DOUBLE + 0.5 * tot.bcount))
                    / ((grid.g::DOUBLE + 0.5)
                       / (tot.n::DOUBLE + 0.5 * tot.bcount)))
               * 1000000000, 0) AS BIGINT))::BIGINT::DOUBLE
               / 1000000000, 6) AS psi
    FROM grid JOIN tot ON tot.signal = grid.signal
    GROUP BY 1, 2
    """,
)
def quality_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability index of three quality-signal histograms,
    per (signal, source), against the whole-corpus distribution — the
    drift monitor that catches a domain whose content shifted between
    crawls (PSI > 0.2 is the classic act threshold; the report leaves
    thresholding to the reader since drift is advisory, not a verdict).

    Signals and their bucketing (exact in both engines):
    - ``log2_tokens``: integer bit-length bucket, the
      token_count_histogram key;
    - ``mean_word_len``: 0.5-wide bins of the ROUNDED published
      signal (floor of an identical rounded double is portable);
    - ``stop_frac``: 0.1-wide bins of round(stop/words, 6).
    Smoothing is +0.5 per bucket (Laplace over the signal's observed
    bucket set), so empty buckets contribute finite, identical terms.

    Scale shape: signals come from the single-tokenize
    score_documents scan; one explode(×3) and ONE shuffle on
    (signal, source, bucket) collapse the corpus to a
    signals×sources×buckets frame (~hundreds of rows); every
    subsequent join/aggregate is over that tiny frame, so 100× data
    changes only the first shuffle's input. A hot source skews
    nothing: the groupBy key includes bucket, and the per-key partial
    aggregation bounds any single task. Reference analogue: the
    between-corpora frequency comparisons the reference runs by
    re-executing its stats script per corpus and diffing by hand
    (sna_analysis.py:162-168) — here as one gated report."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    scored = q.score_documents(docs, "text", _QCFG)
    tokb = F.coalesce(
        (F.length(F.bin("n_words")) - 1).cast("int"), F.lit(-1)
    )
    mwlb = F.coalesce(
        F.floor(F.col("mean_word_len") * 2).cast("int"), F.lit(-1)
    )
    stopb = F.coalesce(
        F.floor(
            F.round(
                F.when(
                    F.col("n_words") > 0,
                    F.col("stop_word_count").cast("double") / F.col("n_words"),
                ),
                6,
            )
            * 10
        ).cast("int"),
        F.lit(-1),
    )
    ex = scored.select(
        "source",
        F.explode(
            F.array(
                F.struct(F.lit("log2_tokens").alias("signal"), tokb.alias("bucket")),
                F.struct(F.lit("mean_word_len").alias("signal"), mwlb.alias("bucket")),
                F.struct(F.lit("stop_frac").alias("signal"), stopb.alias("bucket")),
            )
        ).alias("sb"),
    ).select("source", "sb.signal", "sb.bucket")
    cnt = (
        ex.groupBy("signal", "source", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    srcs = cnt.groupBy("signal", "source").agg(
        F.sum("c").cast("bigint").alias("n_s")
    )
    glob = cnt.groupBy("signal", "bucket").agg(
        F.sum("c").cast("bigint").alias("g")
    )
    tot = cnt.groupBy("signal").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count_distinct("bucket").cast("bigint").alias("bcount"),
    )
    grid = (
        srcs.join(glob, "signal")
        .join(
            cnt.select(
                "signal", "source", "bucket", F.col("c").alias("c_obs")
            ),
            ["signal", "source", "bucket"],
            "left",
        )
        .withColumn("c", F.coalesce(F.col("c_obs"), F.lit(0)).cast("bigint"))
        .join(tot, "signal")
    )
    p = (F.col("c") + 0.5) / (F.col("n_s") + 0.5 * F.col("bcount"))
    qd = (F.col("g") + 0.5) / (F.col("n") + 0.5 * F.col("bcount"))
    # per-term doubles are engine-identical (pure IEEE ops + one libm
    # ln, rounded); the SUM is made order-independent by snapping each
    # term to integer nano-units first (same fixed-point discipline as
    # the NB log-odds) — float partial-sum order varies with partition
    # layout and could flip the 6th decimal.
    term_nano = F.round((p - qd) * F.log(p / qd) * 1e9, 0).cast("bigint")
    return grid.groupBy("signal", "source").agg(
        F.max("n_s").cast("bigint").alias("n_docs"),
        F.round(
            F.sum(term_nano).cast("double") / 1e9, 6
        ).alias("psi"),
    )


# ---------------------------------------------------------------------------
# HLL cardinality audit — the 100 TB scale path for vocabulary
# counting, gated in-query against the exact count.
# ---------------------------------------------------------------------------
@register("vocab_hll_audit")  # rows-only: HLL++ register layout is engine-
# specific, so DuckDB cannot replay the estimate; the gate is in-query.
def vocab_hll_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vs HyperLogLog++ distinct word-bigram count, one row,
    FILTERED to relative error ≤ 5% (integer arithmetic on the exact
    side of the inequality). At 100 TB the exact count is the thing
    you CANNOT afford — count(DISTINCT gram) shuffles every distinct
    gram once — while approx_count_distinct(rsd=0.01) carries a
    fixed few-KB sketch per partition and merges them in the final
    agg: no gram ever shuffles. This audit runs both on the
    same scan at test scale and publishes the estimator's actual
    error, so the pipeline can quote a measured bound when it swaps
    in the sketch at scale; a Spark upgrade that shifted the HLL
    estimate outside 5% would make the row vanish (a rows-only
    count drop). Deterministic: HLL++ is seed-free, a pure function
    of the value set."""
    docs = load_table(spark, sf_dir, "documents")
    sp = _doc_word_spans(docs, 2).withColumnRenamed("span", "gram")
    agg = sp.agg(
        F.count_distinct("gram").cast("bigint").alias("exact_distinct"),
        F.approx_count_distinct("gram", 0.01).cast("bigint").alias(
            "hll_distinct"
        ),
    )
    err = F.abs(F.col("hll_distinct") - F.col("exact_distinct"))
    return agg.select(
        "exact_distinct",
        "hll_distinct",
        F.round(
            err.cast("double") / F.col("exact_distinct"), 6
        ).alias("rel_error"),
    ).filter(err * 100 <= F.col("exact_distinct") * 5)


# ---------------------------------------------------------------------------
# Rule ablation — per-rule removal rates, total AND sole-cause: the
# table C4/Gopher publish when tuning thresholds (how much does each
# rule remove, and how much would relaxing ONLY it win back).
# ---------------------------------------------------------------------------
@register(
    "rule_ablation",
    f"""
    WITH {_SIG_CTE},
    r AS (
        SELECT {T.drop_reasons_sql()} AS reasons
        FROM sig
    ),
    ex AS (
        SELECT unnest(reasons) AS reason, (len(reasons) = 1) AS sole FROM r
    ),
    n AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
    SELECT reason,
           count(*)::BIGINT AS n_hit,
           sum(CASE WHEN sole THEN 1 ELSE 0 END)::BIGINT AS n_sole,
           round(count(*)::DOUBLE / n.n_docs, 6) AS hit_frac,
           round(sum(CASE WHEN sole THEN 1 ELSE 0 END)::DOUBLE / n.n_docs, 6)
               AS sole_frac
    FROM ex, n
    GROUP BY reason, n.n_docs
    """,
)
def rule_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule ablation: how many documents each quality rule fires
    on (n_hit) and how many it is the SOLE reason for dropping
    (n_sole — the docs a threshold relaxation would actually win
    back; a rule with large n_hit but tiny n_sole is redundant with
    its peers and can be tightened for free). This is the table
    C4 §2.2 / Gopher App. A publish per filter when tuning, derived
    here from the same drop_reasons payload the audit stage persists
    — one rule table, two engine twins (CLAUDE.md dual-spec rule).

    Scale shape: one scoring scan (single-tokenize shape) + one
    ≤9-key aggregation; sole-ness is size(drop_reasons)=1 computed
    BEFORE the explode, so no per-doc regroup exists. The corpus
    count is a second scan but count-star over parquet footers (zero
    columns read), crossed in as a 1-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    scored = q.drop_reasons(q.score_documents(docs))
    # explode_outer + null filter, not explode — see rule_hit_profile
    # (the inferred size>0 pre-filter re-inlines the whole rule chain)
    ex = (
        scored.select(
            F.size("drop_reasons").alias("nr"),
            F.explode_outer("drop_reasons").alias("reason"),
        )
        .filter(F.col("reason").isNotNull())
    )
    n = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    sole = F.when(F.col("nr") == 1, 1).otherwise(0)
    return (
        ex.groupBy("reason")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hit"),
            F.sum(sole).cast("bigint").alias("n_sole"),
        )
        .crossJoin(F.broadcast(n))
        .select(
            "reason",
            "n_hit",
            "n_sole",
            F.round(F.col("n_hit").cast("double") / F.col("n_docs"), 6).alias(
                "hit_frac"
            ),
            F.round(F.col("n_sole").cast("double") / F.col("n_docs"), 6).alias(
                "sole_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# BPE subword tokenizer: corpus-trained merge table + fertility —
# the vocabulary-planning loop of a pretraining data pipeline
# (Sennrich et al. 2016; operators/bpe.py has the scale story).
# ---------------------------------------------------------------------------
_BPE_MERGES = 16


@register("bpe_merge_table")  # rows-only: training is an iterative
# argmax loop no SQL engine replays; the gate is in-query (rows vanish
# unless every vocab word round-trips through the learned tokenizer)
def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table (rank, pair, merged symbol, summed
    support), trained distributively on the corpus word-frequency
    table and GATED in-query on the tokenizer's reconstruction
    identity: every vocabulary word must detokenize back to itself
    (concat of its BPE symbols == word + '</w>'), else all rows
    vanish and the rows-only count check catches it.

    Training is deterministic (max support, ties to the smallest
    pair — a total order), so the output rows are stable across runs
    and partitionings; tests/test_bpe.py holds the distributed
    trainer differential-equal to its sequential twin."""
    from textcleaning_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents").select("text")
    vocab = bpe.word_vocab(docs).localCheckpoint(eager=False)
    merges = bpe.train_bpe(vocab, n_merges=_BPE_MERGES)
    detok = bpe.detok_udf(merges)
    bad = vocab.filter(
        detok(F.col("word")) != F.concat(F.col("word"), F.lit(bpe.END))
    ).agg(F.count(F.lit(1)).alias("n_bad"))
    table = spark.createDataFrame(
        [(i, a, b, a + b, s) for i, (a, b, s) in enumerate(merges)],
        "rank int, sym_a string, sym_b string, merged string, support bigint",
    )
    return (
        table.crossJoin(bad)
        .filter(F.col("n_bad") == 0)
        .select("rank", "sym_a", "sym_b", "merged", "support")
        .orderBy("rank")
    )


@register("bpe_fertility")  # rows-only: tokenization applies the
# learned merges in a pandas UDF; sanity bounds are in-query
def bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokens per whitespace word, by language — the fertility
    check a vocabulary review runs before pinning a tokenizer (a
    language whose fertility stays near chars-per-word is being
    spelled out letter-by-letter and needs vocab budget). Bounded
    in-query: fertility must land in [1, 1 + chars/word] (BPE can
    never emit fewer than one or more than chars+1 symbols per word),
    so a broken merge application empties the row set.

    Scale shape: training touches only the word-frequency table
    (operators/bpe.py); the corpus-sized pass is ONE Arrow-batched
    pandas UDF with the merge ranks riding the closure, then one
    lang-keyed aggregate with map-side partials."""
    from textcleaning_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    vocab = bpe.word_vocab(docs).localCheckpoint(eager=False)
    merges = bpe.train_bpe(vocab, n_merges=_BPE_MERGES)
    n_bpe = bpe.bpe_tokens_udf(merges)
    per = docs.select(
        "lang",
        T.n_words("text").alias("n_words"),
        F.length(F.regexp_replace(F.col("text"), r"\s+", "")).alias("n_chars"),
        n_bpe(T.tokens("text")).alias("n_bpe"),
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    fert = F.round(
        F.col("n_bpe_tokens").cast("double") / F.col("n_words").cast("double"), 6
    )
    ceiling = (
        F.col("n_chars").cast("double") / F.col("n_words").cast("double") + 1.0
    )
    return agg.select(
        "lang", "n_docs", "n_words", "n_bpe_tokens", fert.alias("bpe_fertility")
    ).filter((fert >= 1.0) & (fert <= ceiling))


# ---------------------------------------------------------------------------
# Count-Min heavy-hitters audit — the third sketch family (HLL
# cardinality, HyperBall centrality, CMS frequency): estimate any
# word's frequency from a fixed d×w table instead of the full
# vocabulary (Cormode & Muthukrishnan 2005).
# ---------------------------------------------------------------------------
_CMS_SEEDS = ("a", "b", "c")  # d = 3 rows
_CMS_TOPK = 20
# w = 256 buckets per row: substr(md5(seed:word), 1, 2) — md5-bucketed
# so the DuckDB oracle replays the sketch EXACTLY (unlike HLL++, whose
# register layout is engine-private — vocab_hll_audit stays rows-only)
_CMS_SEED_SQL = (
    "(SELECT unnest(["
    + ", ".join(f"'{s}'" for s in _CMS_SEEDS)
    + "]) AS seed)"
)


@register(
    "cms_heavy_hitters",
    f"""
    WITH tok AS (
        SELECT unnest({_TOK}) AS word FROM documents
    ),
    wc AS (
        SELECT word, count(*)::BIGINT AS cnt
        FROM tok WHERE word <> '' GROUP BY 1
    ),
    tot AS (SELECT sum(cnt)::BIGINT AS n FROM wc),
    cms AS (
        SELECT s.seed,
               substr(md5(s.seed || ':' || word), 1, 2) AS bucket,
               sum(cnt)::BIGINT AS c
        FROM wc, {_CMS_SEED_SQL} s
        GROUP BY 1, 2
    ),
    topk AS (
        SELECT word, cnt FROM wc ORDER BY cnt DESC, word LIMIT {_CMS_TOPK}
    ),
    est AS (
        SELECT t.word, t.cnt, min(c.c)::BIGINT AS cms_est
        FROM topk t
        CROSS JOIN {_CMS_SEED_SQL} s
        JOIN cms c ON c.seed = s.seed
                  AND c.bucket = substr(md5(s.seed || ':' || t.word), 1, 2)
        GROUP BY 1, 2
    )
    SELECT word, cnt AS exact_count, cms_est,
           (cms_est - cnt)::BIGINT AS overestimate,
           round((cms_est - cnt)::DOUBLE / (SELECT n FROM tot), 6)
               AS overestimate_frac
    FROM est
    WHERE cms_est >= cnt
    ORDER BY exact_count DESC, word
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch frequency estimates for the exact top-k words,
    with the CMS hard guarantee as the in-query gate: an estimate can
    only OVER-count (every occurrence lands in all d counters), so
    ``cms_est >= exact`` holds for every word and a broken sketch
    makes rows vanish. The reported ``overestimate_frac`` is the
    collision mass against the ε = e/w bound.

    Scale shape: the sketch is a FIXED d×w = 3×256 table built by one
    (seed, bucket)-keyed aggregate over the word table — at 10¹² docs
    the frequency oracle for ANY word (hot-shingle guards, stop-list
    candidates, boilerplate thresholds) costs 768 rows instead of a
    10⁸-row vocabulary; estimates are a broadcast-join against it.
    The audit's exact top-k side is TakeOrderedAndProject over the
    same word table. md5 bucketing keeps both engines bit-identical
    (same discipline as minhash_signatures)."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    seeds = F.explode(F.array(*[F.lit(s) for s in _CMS_SEEDS])).alias("seed")
    wc = (
        docs.select(F.explode(T.tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)  # wc feeds cms, topk and total
    )
    tot = wc.agg(F.sum("cnt").cast("bigint").alias("n"))

    def bucket(seed_col: Column, word_col: Column) -> Column:
        return F.substring(
            F.md5(F.concat(seed_col, F.lit(":"), word_col)), 1, 2
        )

    cms = (
        wc.select("word", "cnt", seeds)
        .select("cnt", "seed", bucket(F.col("seed"), F.col("word")).alias("bucket"))
        .groupBy("seed", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    topk = wc.orderBy(F.desc("cnt"), "word").limit(_CMS_TOPK)
    est = (
        topk.select("word", "cnt", seeds)
        .withColumn("bucket", bucket(F.col("seed"), F.col("word")))
        .join(cms, ["seed", "bucket"])
        .groupBy("word", "cnt")
        .agg(F.min("c").cast("bigint").alias("cms_est"))
    )
    return (
        est.crossJoin(tot)
        .select(
            "word",
            F.col("cnt").alias("exact_count"),
            "cms_est",
            (F.col("cms_est") - F.col("cnt")).cast("bigint").alias("overestimate"),
            F.round(
                (F.col("cms_est") - F.col("cnt")).cast("double") / F.col("n"), 6
            ).alias("overestimate_frac"),
        )
        .filter(F.col("cms_est") >= F.col("exact_count"))
        .orderBy(F.desc("exact_count"), "word")
    )


# ---------------------------------------------------------------------------
# Luhn-validated credit-card PII audit — checksum-gated detection
# (ISO/IEC 7812), the way production PII scrubbers separate card
# numbers from arbitrary 13-19-digit runs. The corpus text carries
# no digits, so card-like runs are planted deterministically from
# doc_id in BOTH engines: ~1/8 of docs get a 16-digit md5-derived
# run (Luhn-valid only by 1-in-10 chance), ~1/8 get the canonical
# test PAN 4111111111111111 (always valid) — so the report has
# deterministic nonzero counts in BOTH the flagged and the
# rejected-candidate columns.
# ---------------------------------------------------------------------------
_CC_SYNTH_SQL = " || ".join(
    f"(ascii(substr(cn, {i}, 1)) % 10)::VARCHAR" for i in range(1, 17)
)
_CC_LUHN_TERM = """CASE WHEN (length(cand) - i) % 2 = 1
                 THEN CASE WHEN (ascii(substr(cand, i, 1)) - 48) * 2 > 9
                           THEN (ascii(substr(cand, i, 1)) - 48) * 2 - 9
                           ELSE (ascii(substr(cand, i, 1)) - 48) * 2 END
                 ELSE ascii(substr(cand, i, 1)) - 48 END"""


@register(
    "cc_luhn_scrub_audit",
    f"""
    WITH planted AS (
        SELECT doc_id, lang, text,
               ascii(substr({_doc_md5_sql("cc")}, 1, 1)) % 8 AS sel,
               {_doc_md5_sql("cn")} AS cn
        FROM documents
    ),
    body AS (
        SELECT lang,
               CASE WHEN sel = 0
                    THEN text || chr(10) || 'card ' || {_CC_SYNTH_SQL}
                         || ' on file'
                    WHEN sel = 1
                    THEN text || chr(10) || 'card 4111111111111111 on file'
                    ELSE text END AS text
        FROM planted
    ),
    cands AS (
        SELECT lang,
               regexp_extract_all(text, '\\d{{13,19}}') AS cands
        FROM body
    ),
    scored AS (
        SELECT lang, len(cands)::BIGINT AS n_cand,
               coalesce(list_sum([CASE WHEN
                   list_sum([{_CC_LUHN_TERM}
                     FOR i IN range(1, length(cand) + 1)]) % 10 = 0
                   THEN 1 ELSE 0 END FOR cand IN cands]), 0)::BIGINT AS n_valid
        FROM cands
    )
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           sum(n_cand)::BIGINT AS n_cands,
           sum(n_valid)::BIGINT AS n_luhn_valid,
           sum(CASE WHEN n_valid > 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_docs_flagged,
           round(sum(CASE WHEN n_valid > 0 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS cc_rate
    FROM scored
    GROUP BY lang
    """,
)
def cc_luhn_scrub_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language credit-card PII report with Luhn checksum gating:
    candidate 13-19-digit runs are extracted with the production regex
    shape, then each run must pass the Luhn mod-10 check
    (functions/scrub.luhn_valid) before it counts as a card number —
    the checksum rejects ~90% of arbitrary digit runs, which is
    exactly the false-positive control real scrubbers rely on (the
    report's n_cands vs n_luhn_valid gap shows it working).

    Scale shape: everything is one shuffle-free codegen'd project per
    row — regexp_extract_all materializes the candidate array ONCE as
    a column, and the Luhn fold is a nested native HOF
    (transform→aggregate) over that array, no explode, no Python, no
    per-candidate row amplification; the single shuffle carries
    (lang, three ints) with map-side partials. The DuckDB oracle
    replays the identical checksum via list comprehensions.
    """
    from textcleaning_spark.functions import scrub as _scrub

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    staged = docs.select(
        "lang",
        "text",
        (F.ascii(F.substring(_doc_md5("cc"), 1, 1)) % 8).alias("sel"),
        _doc_md5("cn").alias("cn"),
    )
    synth = F.concat(
        *[
            (F.ascii(F.substring(F.col("cn"), i, 1)) % 10).cast("string")
            for i in range(1, 17)
        ]
    )
    body = staged.select(
        "lang",
        F.when(
            F.col("sel") == 0,
            F.concat(F.col("text"), F.lit("\ncard "), synth, F.lit(" on file")),
        )
        .when(
            F.col("sel") == 1,
            F.concat(F.col("text"), F.lit("\ncard 4111111111111111 on file")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    cands = body.select(
        "lang",
        F.regexp_extract_all(F.col("text"), F.lit(r"\d{13,19}"), 0).alias("cands"),
    )
    scored = cands.select(
        "lang",
        F.size("cands").cast("bigint").alias("n_cand"),
        F.aggregate(
            F.transform(
                F.col("cands"),
                lambda c: F.when(_scrub.luhn_valid(c), 1).otherwise(0),
            ),
            F.lit(0),
            lambda a, x: a + x,
        )
        .cast("bigint")
        .alias("n_valid"),
    )
    flag = F.when(F.col("n_valid") > 0, 1).otherwise(0)
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_cand").cast("bigint").alias("n_cands"),
        F.sum("n_valid").cast("bigint").alias("n_luhn_valid"),
        F.sum(flag).cast("bigint").alias("n_docs_flagged"),
        F.round(F.sum(flag).cast("double") / F.count(F.lit(1)), 6).alias(
            "cc_rate"
        ),
    )
