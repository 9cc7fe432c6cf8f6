"""Selection family: what enters a training mix — document keep/drop
rollups, the distilled quality classifier, samples and splits,
perplexity routing, importance resampling and token budgets."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from textcleaning_spark.functions import text as T
from textcleaning_spark.operators import classifier as clf
from textcleaning_spark.operators import quality as q
from textcleaning_spark.queries import register
from textcleaning_spark.queries.common import _QCFG, _TOK, _doc_md5, _doc_md5_sql
from textcleaning_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# Document quality profile — flagship Gopher/C4 keep/drop rollup
# ---------------------------------------------------------------------------


@register(
    "doc_quality_profile",
    f"""
    WITH scored AS (
        SELECT lang,
               {T.n_words_sql('text')} AS n_words,
               {T.char_count_no_spaces_sql('text')} AS n_token_chars,
               {T.stop_word_count_sql('text')} AS stop_word_count,
               {T.keep_expr_sql('text')} AS keep
        FROM documents
    )
    SELECT lang, keep,
           count(*)::BIGINT AS n_docs,
           round(avg(n_words), 4) AS avg_words,
           round(sum(n_token_chars)::DOUBLE / sum(n_words), 4) AS avg_word_len,
           round(avg(stop_word_count), 4) AS avg_stop_words
    FROM scored
    GROUP BY lang, keep
    """,
)
def doc_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: per-(lang, keep) document counts + integer-exact means.

    Uses the optimized single-tokenize ``score_documents`` shape (the
    naive re-derive-per-signal tree is ~5× slower; semantics identical
    — the oracle comparison proves it)."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    scored = q.score_documents(docs, "text", _QCFG).select(
        "lang",
        "n_words",
        T.char_count_no_spaces("text").alias("n_token_chars"),
        "stop_word_count",
        "keep",
    )
    return scored.groupBy("lang", "keep").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.avg("n_words"), 4).alias("avg_words"),
        F.round(F.sum("n_token_chars").cast("double") / F.sum("n_words"), 4).alias(
            "avg_word_len"
        ),
        F.round(F.avg("stop_word_count"), 4).alias("avg_stop_words"),
    )


# ---------------------------------------------------------------------------
# Source-level quality filter — the URL/domain-level
# filtering pass of C4/RefinedWeb-style pipelines: aggregate the
# per-document keep verdict to the source and flag sources whose
# keep rate falls below the blocklist threshold.
# ---------------------------------------------------------------------------
@register(
    "source_quality_filter",
    f"""
    WITH scored AS (
        SELECT source,
               {T.n_words_sql('text')} AS n_words,
               CASE WHEN {T.keep_expr_sql('text')} THEN 1 ELSE 0 END AS keep
        FROM documents
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(keep)::BIGINT AS n_kept,
           round(sum(keep)::DOUBLE / count(*), 6) AS keep_rate,
           round(avg(n_words), 4) AS avg_words,
           (sum(keep) * 100 < count(*) * 85) AS blocked
    FROM scored
    GROUP BY source
    """,
)
def source_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality gate: per-source doc counts, keep rate and
    a `blocked` flag (keep rate < 0.85). The flag is computed in exact
    integer arithmetic (n_kept*100 < n_docs*85), never from the
    rounded rate — the CLAUDE.md unrounded-verdict invariant; the
    displayed rate is rounded separately. One scan, one shuffle on
    source; at web scale this is the per-domain reputation table that
    gates URL-level filtering (C4 §2.1 / RefinedWeb §3.1 shape —
    public heuristics)."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    scored = q.score_documents(docs, "text", _QCFG).select(
        "source",
        "n_words",
        F.when(F.col("keep"), F.lit(1)).otherwise(F.lit(0)).alias("keep"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("keep").cast("bigint").alias("n_kept"),
        F.round(F.sum("keep").cast("double") / F.count(F.lit(1)), 6).alias(
            "keep_rate"
        ),
        F.round(F.avg("n_words"), 4).alias("avg_words"),
        (F.sum("keep") * 100 < F.count(F.lit(1)) * 85).alias("blocked"),
    )


# ---------------------------------------------------------------------------
# Naive-Bayes quality classifier distilled from the rule verdict —
# the CCNet/DSIR shape: rules label the corpus, a
# linear classifier is trained on those labels in ONE aggregation,
# and scoring is a broadcast join + integer sum. Deterministic via
# fixed-point micro-unit log-odds (see operators/classifier.py).
# ---------------------------------------------------------------------------
def _nb_scored_sql(train_pred: str, score_pred: str) -> str:
    """DuckDB twin of the Bernoulli-NB train/score chain, parameterized
    by which documents train the model and which get scored (both
    predicates over ``doc_id``; ``TRUE`` = the whole corpus). Returns
    the CTE chain up to and including the per-document ``scored``
    frame (rule_keep, score_micro) so confusion and calibration
    reports share ONE spec of the classifier."""
    return f"""
    WITH labeled AS (
        SELECT doc_id, {T.keep_expr_sql('text')} AS keep FROM documents
    ),
    tokd AS (
        SELECT DISTINCT doc_id, unnest({_TOK}) AS word FROM documents
    ),
    tokl AS (
        SELECT t.doc_id, l.keep, t.word FROM tokd t JOIN labeled l USING (doc_id)
    ),
    totals AS (
        SELECT sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS nkeep,
               sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS ndrop
        FROM labeled WHERE {train_pred}
    ),
    counts AS (
        SELECT word,
               sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS nk,
               sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS nd
        FROM tokl WHERE {train_pred} GROUP BY word
    ),
    lo AS (
        SELECT word,
               CAST(round(round(
                   ln((nk + 1)::DOUBLE / (nkeep + 2))
                   - ln((nd + 1)::DOUBLE / (ndrop + 2)), 6) * 1000000, 0)
               AS BIGINT) AS present_micro,
               CAST(round(round(
                   ln((nkeep + 1 - nk)::DOUBLE / (nkeep + 2))
                   - ln((ndrop + 1 - nd)::DOUBLE / (ndrop + 2)), 6) * 1000000, 0)
               AS BIGINT) AS absent_micro
        FROM counts CROSS JOIN totals
    ),
    konst AS (
        SELECT (SELECT CAST(round(round(
                   ln((nkeep + 1)::DOUBLE / (ndrop + 1)), 6) * 1000000, 0)
               AS BIGINT) FROM totals)
               + (SELECT sum(absent_micro)::BIGINT FROM lo) AS const_micro
    ),
    docsum AS (
        SELECT doc_id,
               sum(present_micro - absent_micro)::BIGINT AS tok_micro
        FROM tokl JOIN lo USING (word)
        WHERE {score_pred} GROUP BY doc_id
    ),
    scored AS (
        SELECT l.keep AS rule_keep,
               coalesce(d.tok_micro, 0) + k.const_micro AS score_micro
        FROM labeled l
        LEFT JOIN docsum d USING (doc_id)
        CROSS JOIN konst k
        WHERE {score_pred}
    )
    SELECT 1
    """.rsplit("SELECT 1", 1)[0]


def _nb_confusion_sql(train_pred: str, score_pred: str) -> str:
    return _nb_scored_sql(train_pred, score_pred) + """
    SELECT rule_keep, (score_micro > 0) AS nb_keep,
           count(*)::BIGINT AS n_docs,
           sum(score_micro)::BIGINT AS sum_score_micro
    FROM scored GROUP BY rule_keep, nb_keep
    """


def _nb_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text, keep): the rule verdict the classifier learns.

    It feeds four subtrees (train counts, train totals, score tokens,
    score docs); checkpoint it once instead of re-running the quality
    chain per subtree (measured 36% at sf0.1). In production the
    labeled frame IS the pipeline's persisted output — the checkpoint
    stands in for reading that table back."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        q.score_documents(docs, "text", _QCFG)
        .select("doc_id", "text", "keep")
        .localCheckpoint(eager=False)
    )


def _nb_confusion(scored: DataFrame) -> DataFrame:
    """Spark twin of the :func:`_nb_confusion_sql` report."""
    return scored.groupBy("rule_keep", "nb_keep").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("score_micro").cast("bigint").alias("sum_score_micro"),
    )


@register("nb_quality_confusion", _nb_confusion_sql("TRUE", "TRUE"))
def nb_quality_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-on-rules / score-with-model confusion matrix, all in-plan.

    The rule verdict (teacher) and the Naive-Bayes posterior (student)
    per document, aggregated to the 2×2 confusion with the exact
    integer score mass per cell. Train and score share ONE distinct
    (doc, word) materialization; the vocab-sized log-odds table is
    broadcast, so scoring adds no corpus-wide shuffle beyond the final
    groupBy(doc). Reference analogue: keep/drop chain at
    text_process_v5.py:164-169 is the teacher; the distillation layer
    is this engine's own (CCNet §3 / DSIR — public techniques)."""
    labeled = _nb_labeled(spark, sf_dir)
    tok = clf.doc_tokens(labeled)
    lo = clf.train_log_odds(tok, labeled)
    scored = clf.score_documents_nb(labeled, tok, lo)
    return _nb_confusion(scored)


_NB_SALT = "nb"
_NB_TRAIN_HEX_CUT = "19999999"  # md5 prefix < this ≈ 10% training split
_NB_TRAIN_PRED = (
    f"substr({_doc_md5_sql(_NB_SALT)}, 1, 8) < '{_NB_TRAIN_HEX_CUT}'"
)


def _nb_member():
    """Spark twin of the md5-prefix training-split membership."""
    return F.substring(_doc_md5(_NB_SALT), 1, 8) < _NB_TRAIN_HEX_CUT


@register(
    "nb_holdout_confusion",
    _nb_confusion_sql(_NB_TRAIN_PRED, f"NOT ({_NB_TRAIN_PRED})"),
)
def nb_holdout_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalization test of the distilled classifier: train the
    Bernoulli-NB log-odds ONLY on the deterministic ~10% md5-hash
    split, score ONLY the 90% holdout, and report the teacher/student
    confusion there — the honest version of nb_quality_confusion
    (which scores its own training set). Holdout tokens absent from
    the training vocabulary contribute nothing (documented inner-join
    semantics). Membership is md5-prefix hashing, so the split is
    identical across engines, runs and partitionings."""
    labeled = _nb_labeled(spark, sf_dir)
    member = _nb_member()
    train = labeled.filter(member)
    holdout = labeled.filter(~member)
    lo = clf.train_log_odds(clf.doc_tokens(train), train)
    scored = clf.score_documents_nb(holdout, clf.doc_tokens(holdout), lo)
    return _nb_confusion(scored)


# ---------------------------------------------------------------------------
# Stratified sampling — per-language rate map (data-mix rebalance)
# ---------------------------------------------------------------------------
_STRAT_SALT = "s2"
# en is over-represented in web corpora: downsample to 5%; the rest 20%.
_STRAT_CUTS = {"en": "0ccccccc"}
_STRAT_DEFAULT_CUT = "33333333"


@register(
    "stratified_sample",
    f"""
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN substr({_doc_md5_sql(_STRAT_SALT)}, 1, 8)
                         < CASE WHEN lang = 'en' THEN '{_STRAT_CUTS["en"]}'
                                ELSE '{_STRAT_DEFAULT_CUT}' END
                    THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
           sum(CASE WHEN substr({_doc_md5_sql(_STRAT_SALT)}, 1, 8)
                         < CASE WHEN lang = 'en' THEN '{_STRAT_CUTS["en"]}'
                                ELSE '{_STRAT_DEFAULT_CUT}' END
                    THEN n_chars ELSE 0 END)::BIGINT AS sampled_chars
    FROM documents
    GROUP BY lang
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling with a per-language rate map
    (downsample the over-represented language, keep the rest at a
    higher rate) — the data-mix rebalancing step of C4/ROOTS-style
    corpus assembly. Membership is md5-prefix hashing against a
    per-lang cutoff, so rates change by editing the map, membership
    stays reproducible, and the whole thing is one scan + one
    lang-keyed shuffle (no per-stratum passes)."""
    docs = load_table(spark, sf_dir, "documents")
    cut = F.when(F.col("lang") == "en", F.lit(_STRAT_CUTS["en"])).otherwise(
        F.lit(_STRAT_DEFAULT_CUT)
    )
    member = F.substring(_doc_md5(_STRAT_SALT), 1, 8) < cut
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(member, 1).otherwise(0)).cast("bigint").alias("n_sampled"),
        F.sum(F.when(member, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("sampled_chars"),
    )


# ---------------------------------------------------------------------------
# Training-mix report — kept-token budget per (lang, length tier)
# ---------------------------------------------------------------------------
@register(
    "training_mix_report",
    f"""
    WITH kept AS (
        SELECT lang,
               CASE WHEN {T.n_words_sql('text')} < 50 THEN 'short'
                    WHEN {T.n_words_sql('text')} < 200 THEN 'medium'
                    ELSE 'long' END AS tier,
               {T.n_words_sql('text')} AS n_tok
        FROM documents
        WHERE {T.keep_expr_sql('text')}
    )
    SELECT coalesce(lang, 'ALL') AS lang,
           coalesce(tier, 'ALL') AS tier,
           count(*)::BIGINT AS n_docs,
           sum(n_tok)::BIGINT AS n_tokens
    FROM kept
    GROUP BY ROLLUP(lang, tier)
    """,
)
def training_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deliverable a training team actually consumes: token budget
    of the KEPT corpus per (language, length tier) with ROLLUP
    subtotals — the data-mix table that feeds sampling weights. One
    scoring scan (shared score_documents shape), one ROLLUP shuffle.
    Tier thresholds mirror the SQL constants; the keep gate runs on
    unrounded signals (CLAUDE.md invariant)."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    scored = q.score_documents(docs, "text", _QCFG)
    kept = scored.filter(F.col("keep")).select(
        "lang",
        F.when(F.col("n_words") < 50, "short")
        .when(F.col("n_words") < 200, "medium")
        .otherwise("long")
        .alias("tier"),
        F.col("n_words").alias("n_tok"),
    )
    return (
        kept.rollup("lang", "tier")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang"),
            F.coalesce(F.col("tier"), F.lit("ALL")).alias("tier"),
            "n_docs",
            "n_tokens",
        )
    )


# ---------------------------------------------------------------------------
# Char-bigram perplexity, trained AND scored relationally
# ---------------------------------------------------------------------------
# The KenLM-style scoring path ships as a broadcast pandas UDF
# (functions/perplexity.py); this is its relational twin — model
# estimation (bigram + prefix counts + charset size) and Laplace-
# smoothed scoring in ONE lazy plan, no Python anywhere, so the whole
# thing is oracle-checkable. The trained model is |charset|²-bounded,
# so the scoring joins broadcast at any corpus scale.
# Shared by char_bigram_ppl and ppl_tertile_routing (one spec, two
# consumers — same dual-spec discipline as the rule table).
_PPL_CORE_SQL = """
    WITH bigrams AS (
        SELECT doc_id,
               unnest(list_transform(range(1, length(text)),
                                     i -> substring(text, i, 2))) AS bg
        FROM documents
    ),
    model AS (SELECT bg, count(*)::BIGINT AS c FROM bigrams GROUP BY bg),
    prefix AS (
        SELECT substring(bg, 1, 1) AS p, sum(c)::BIGINT AS pc
        FROM model GROUP BY 1
    ),
    vocab AS (
        SELECT count(DISTINCT ch)::BIGINT AS v FROM (
            SELECT unnest(list_transform(range(1, length(text) + 1),
                                         i -> substring(text, i, 1))) AS ch
            FROM documents
        )
    )
    SELECT b.doc_id,
           round(exp(-avg(ln((m.c + 1)::DOUBLE / (p.pc + v.v)))), 4) AS ppl,
           count(*)::BIGINT AS n_bigrams
    FROM bigrams b
    JOIN model m ON b.bg = m.bg
    JOIN prefix p ON substring(b.bg, 1, 1) = p.p
    CROSS JOIN vocab v
    GROUP BY b.doc_id
"""


@register("char_bigram_ppl", _PPL_CORE_SQL)
def char_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star perplexity signal (train + score in one plan).
    Reference analogue: corpus-statistics-driven word scoring
    (text_process_v5.py:79-95 generalized from counts to an LM)."""
    docs = load_table(spark, sf_dir, "documents")
    # sequence(1, n) defaults to step -1 when n < 1, so a length<=1
    # document would emit spurious DESCENDING-index rows while DuckDB's
    # range(1, n) is empty — guard both upper bounds.
    bigrams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN length(text) > 1 THEN "
                "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2)) "
                "ELSE array() END"
            )
        ).alias("bg"),
    )
    model = bigrams.groupBy("bg").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    prefix = model.groupBy(F.substring("bg", 1, 1).alias("p")).agg(
        F.sum("c").cast("bigint").alias("pc")
    )
    vocab = (
        docs.select(
            F.explode(
                F.expr(
                    "CASE WHEN length(text) >= 1 THEN "
                    "transform(sequence(1, length(text)), i -> substring(text, i, 1)) "
                    "ELSE array() END"
                )
            ).alias("ch")
        )
        .agg(F.countDistinct("ch").cast("bigint").alias("v"))
    )
    lp = F.log((F.col("c") + 1).cast("double") / (F.col("pc") + F.col("v")))
    return (
        bigrams.join(F.broadcast(model), "bg")
        .join(F.broadcast(prefix), F.substring("bg", 1, 1) == F.col("p"))
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.round(F.exp(-F.avg(lp)), 4).alias("ppl"),
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic hash sampling — reproducible corpus downsampling
# ---------------------------------------------------------------------------
_SAMPLE_SALT = "s1"
_SAMPLE_HEX_CUT = "19999999"  # first 8 md5 hex digits < 0x1999999A ≈ 10%


@register(
    "deterministic_sample",
    f"""
    SELECT lang,
           count(*)::BIGINT AS n_sampled,
           sum(n_chars)::BIGINT AS sampled_chars
    FROM documents
    WHERE substr({_doc_md5_sql(_SAMPLE_SALT)}, 1, 8)
          < '{_SAMPLE_HEX_CUT}'
    GROUP BY lang
    """,
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded ~10% sample by md5(doc_id||salt) hex prefix — identical
    membership in every engine, run, and partitioning (unlike
    ``df.sample``, whose membership depends on partition layout).
    Training-data pipelines use this for reproducible held-out splits
    and cheap profiling passes; the predicate is a plain codegen'd
    expression, so it pushes WHERE-side work to the scan."""
    docs = load_table(spark, sf_dir, "documents")
    member = F.substring(_doc_md5(_SAMPLE_SALT), 1, 8) < _SAMPLE_HEX_CUT
    return (
        docs.filter(member)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("sampled_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Stratified curriculum selection — top quantile per language
# ---------------------------------------------------------------------------
_CURRICULUM_PR = 0.8


@register(
    "curriculum_selection",
    f"""
    WITH ranked AS (
        SELECT doc_id, lang, n_chars,
               percent_rank() OVER (PARTITION BY lang
                                    ORDER BY n_chars, doc_id) AS pr
        FROM documents
    )
    SELECT lang,
           count(*)::BIGINT AS n_selected,
           min(n_chars)::BIGINT AS min_chars,
           max(n_chars)::BIGINT AS max_chars
    FROM ranked
    WHERE pr >= {_CURRICULUM_PR}
    GROUP BY lang
    """,
)
def curriculum_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified top-20% per language by document length — the
    curriculum/quality-tier selection a training pipeline runs after
    scoring. percent_rank = (rank-1)/(n-1) is an exact integer ratio,
    so the cut is reproducible across engines; the window partitions by
    lang (parallel), never globally."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= _CURRICULUM_PR)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_selected"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk) — training-batch assembly
# ---------------------------------------------------------------------------
_PACK_TOKENS = 512  # context-window size in tokens
_PACK_SHARD_DOCS = 256  # docs per packing shard (keyspace partition)


@register(
    "sequence_packing",
    f"""
    WITH toked AS (
        SELECT lang, doc_id, doc_id // {_PACK_SHARD_DOCS} AS shard,
               {T.n_words_sql('text')} AS n_tok
        FROM documents
    ),
    cum AS (
        SELECT lang, shard, doc_id, n_tok,
               sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum_tok
        FROM toked
    )
    SELECT lang, shard::BIGINT AS shard,
           ((cum_tok - 1) // {_PACK_TOKENS})::BIGINT AS pack_id,
           count(*)::BIGINT AS n_docs,
           sum(n_tok)::BIGINT AS n_tokens,
           max(cum_tok)::BIGINT AS end_tok
    FROM cum
    WHERE n_tok > 0
    GROUP BY lang, shard, pack_id
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing — the GPT-pipeline batch
    assembly step (concatenate documents in a deterministic order,
    slice into fixed context windows; a document belongs to the window
    holding its END token). Packing runs per (lang, shard) where shard
    is a doc_id range, so at 100 TB every shard packs independently —
    the running sum is a bounded-partition window, never a global
    sort. Output: per-pack doc/token tallies. All integer arithmetic;
    `div` keeps the pack id exact in both engines."""
    docs = load_table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.expr(f"doc_id div {_PACK_SHARD_DOCS}").alias("shard"),
        T.n_words("text").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = docs.withColumn("cum_tok", F.sum("n_tok").over(w))
    return (
        cum.filter(F.col("n_tok") > 0)
        .groupBy(
            "lang",
            F.col("shard").cast("bigint").alias("shard"),
            F.expr(f"(cum_tok - 1) div {_PACK_TOKENS}")
            .cast("bigint")
            .alias("pack_id"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.max("cum_tok").cast("bigint").alias("end_tok"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-weighted language sampling (XLM-R / mT5 data mix)
# ---------------------------------------------------------------------------
_SAMPLING_ALPHA = 0.3  # temperature exponent (Conneau et al. 2020 use 0.3)


@register(
    "lang_sampling_weights",
    f"""
    WITH counts AS (
        SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT sum(n_docs)::DOUBLE AS total,
               sum(pow(n_docs::DOUBLE, {_SAMPLING_ALPHA})) AS z
        FROM counts
    )
    SELECT lang,
           n_docs,
           round(n_docs::DOUBLE / total, 6) AS p_raw,
           round(pow(n_docs::DOUBLE, {_SAMPLING_ALPHA}) / z, 6) AS p_sampled,
           round((pow(n_docs::DOUBLE, {_SAMPLING_ALPHA}) / z)
                 / (n_docs::DOUBLE / total), 6) AS upsample_factor
    FROM counts CROSS JOIN tot
    """,
)
def lang_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted multinomial language sampling — the
    data-mix rebalancing multilingual training pipelines apply
    (q_l = p_l^alpha / sum p^alpha; alpha=0.3 per XLM-R, Conneau et
    al. 2020, and mT5). total^alpha cancels in the normalization, so
    both engines raise the raw BIGINT counts. upsample_factor is the
    effective-epoch multiplier for each language. One tiny groupBy on
    lang plus a 1-row scalar broadcast — nothing corpus-sized moves.
    Floats come from pow(), so every float column is round()ed to 6 on
    both sides (CLAUDE.md float rule)."""
    docs = load_table(spark, sf_dir, "documents").select("lang")
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    n_dbl = F.col("n_docs").cast("double")
    tot = counts.agg(
        F.sum("n_docs").cast("double").alias("total"),
        F.sum(F.pow(n_dbl, F.lit(_SAMPLING_ALPHA))).alias("z"),
    )
    p_raw = n_dbl / F.col("total")
    p_sampled = F.pow(n_dbl, F.lit(_SAMPLING_ALPHA)) / F.col("z")
    return counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.round(p_raw, 6).alias("p_raw"),
        F.round(p_sampled, 6).alias("p_sampled"),
        F.round(p_sampled / p_raw, 6).alias("upsample_factor"),
    )


def _ppl_bucket_report(df: DataFrame, bucket: Column) -> DataFrame:
    """Per-(lang, bucket) doc count and ppl summary of a routed frame —
    the report both ppl routings emit, so they compare column for
    column."""
    return df.groupBy("lang", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(
            F.sum(F.col("ppl").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_ppl"),
        F.min("ppl").alias("min_ppl"),
        F.max("ppl").alias("max_ppl"),
    )


# ---------------------------------------------------------------------------
# Perplexity tertile routing (CCNet head/middle/tail split)
# ---------------------------------------------------------------------------
@register(
    "ppl_tertile_routing",
    f"""
    WITH ppl AS ({_PPL_CORE_SQL}),
    t AS (
        SELECT d.lang, ppl.ppl,
               ntile(3) OVER (PARTITION BY d.lang
                              ORDER BY ppl.ppl, ppl.doc_id) AS tert
        FROM ppl JOIN documents d ON ppl.doc_id = d.doc_id
    )
    SELECT lang,
           CASE tert WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
           count(*)::BIGINT AS n_docs,
           round((sum(ppl::DECIMAL(18,4)))::DOUBLE / count(*), 6) AS mean_ppl,
           min(ppl) AS min_ppl,
           max(ppl) AS max_ppl
    FROM t
    GROUP BY lang, bucket
    """,
)
def ppl_tertile_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style routing (Wenzek et al. 2020): split each language's
    documents into head/middle/tail by LM perplexity — head feeds
    training directly, middle gets re-scored, tail is dropped. Reuses
    the relational char-bigram LM (one spec, two consumers) and joins
    language back from the source table.

    The exact ntile(3) per-lang window is the oracle-checkable form;
    it costs one shuffle on lang and a per-lang sort, fine at bench
    scale but a skew hazard at 100 TB (one partition per language).
    The scale path is the one CCNet itself uses: derive the two cutoff
    ppl values per lang from a sample/approx_percentile (a tiny
    broadcastable table) and route with two comparisons — same shape
    as curriculum_selection's documented quantile path. Ties are
    broken by doc_id so the tertile assignment is deterministic in
    both engines (ppl is rounded to 4 decimals; equal values are
    real)."""
    base = char_bigram_ppl(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.col("ppl").asc(), F.col("doc_id").asc()
    )
    t = base.join(docs, "doc_id").withColumn("tert", F.ntile(3).over(w))
    bucket = (
        F.when(F.col("tert") == 1, "head")
        .when(F.col("tert") == 2, "middle")
        .otherwise("tail")
    )
    return _ppl_bucket_report(t, bucket)


# ---------------------------------------------------------------------------
# CCNet cutoff routing — the 100-TB path of ppl_tertile_routing
# ---------------------------------------------------------------------------
@register("ppl_cutoff_routing")
def ppl_cutoff_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale form of :func:`ppl_tertile_routing` — CCNet's own
    scheme (Wenzek et al. 2020 route on precomputed per-lang percentile
    CUTOFFS, not a global rank): per-lang
    ``approx_percentile(ppl, [1/3, 2/3])`` yields a languages-sized
    cutoff table that broadcasts, and each document routes with two
    comparisons — a map-side project, no per-lang window, no per-lang
    sort. ``ppl_tertile_routing``'s exact ntile(3) window puts each
    language in ONE partition (the ``en`` partition would be most of a
    crawl); this plan's only corpus-wide exchange is the final
    ``groupBy(lang, bucket)`` with map-side partials
    (tests/test_plans.py gates the no-Window/no-per-lang-sort shape,
    tests/test_ppl_routing.py differential-checks bucket counts against
    the exact form at tie-boundary tolerance).

    Rows-only in the oracle gate by design: approx_percentile's GK
    sketch has no DuckDB twin (the exact ntile form is the
    oracle-checked one). Columns match ppl_tertile_routing so the two
    are directly comparable."""
    base = char_bigram_ppl(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = base.join(docs, "doc_id")
    cuts = scored.groupBy("lang").agg(
        F.percentile_approx(
            "ppl", F.array(F.lit(1.0 / 3.0), F.lit(2.0 / 3.0)), F.lit(10000)
        ).alias("__cuts")
    )
    routed = scored.join(F.broadcast(cuts), "lang")
    bucket = (
        F.when(F.col("ppl") <= F.col("__cuts")[0], "head")
        .when(F.col("ppl") <= F.col("__cuts")[1], "middle")
        .otherwise("tail")
    )
    return _ppl_bucket_report(routed, bucket)


# ---------------------------------------------------------------------------
# DSIR importance-resampling selection (Xie et al. 2023)
# ---------------------------------------------------------------------------
_DSIR_BUCKETS = 256  # hashed n-gram feature buckets (md5 first hex byte pair)
_DSIR_TOPK = 25


@register(
    "dsir_selection",
    f"""
    WITH tok AS (SELECT doc_id, lang, {_TOK} AS toks FROM documents),
    grams AS (
        SELECT doc_id, lang,
               substr(md5(array_to_string(list_slice(toks, i, i + 1), ' ')),
                      1, 2) AS bucket
        FROM tok,
             unnest(range(1, greatest(len(toks), 1)::BIGINT)) AS t(i)
    ),
    bc AS (
        SELECT bucket,
               count(*)::BIGINT AS r_cnt,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS t_cnt
        FROM grams GROUP BY bucket
    ),
    wts AS (
        SELECT bucket,
               round(1e6 * (
                   ln((t_cnt + 1)::DOUBLE
                      / (sum(t_cnt) OVER ()::DOUBLE + {_DSIR_BUCKETS}))
                 - ln((r_cnt + 1)::DOUBLE
                      / (sum(r_cnt) OVER ()::DOUBLE + {_DSIR_BUCKETS}))
               ))::BIGINT AS w_micro
        FROM bc
    ),
    scored AS (
        SELECT g.doc_id,
               count(*)::BIGINT AS n_grams,
               sum(w.w_micro)::BIGINT AS score_micro
        FROM grams g JOIN wts w ON w.bucket = g.bucket
        GROUP BY g.doc_id
    )
    SELECT doc_id::BIGINT AS doc_id, n_grams, score_micro,
           row_number() OVER (ORDER BY score_micro DESC, doc_id ASC)::BIGINT
               AS sel_rank
    FROM scored
    ORDER BY sel_rank
    LIMIT {_DSIR_TOPK}
    """,
)
def dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169): score every raw document by how much its
    hashed n-gram features look drawn from a TARGET distribution
    rather than the raw crawl, then keep the top-scoring slice. Target
    here = the ``lang = 'en'`` slice (the paper uses Wikipedia+books;
    any deterministic slice exercises the same math). Features are
    word bigrams hashed to 256 buckets via an md5 prefix — the paper's
    hashed generative mini-model with +1 smoothing.

    Determinism contract: per-bucket log-ratio weights are snapped to
    fixed-point MICRO units (round(1e6·Δln) → BIGINT) so the per-doc
    score is an ORDER-INDEPENDENT integer sum — a float sum over
    shuffled gram rows would not hash-match across engines. Selection
    ranks by the unrounded integer score with a doc_id tie-break.

    Scale shape: the raw AND target bucket counts come from ONE
    256-key conditional aggregation (map-side partials; no second
    corpus pass for the target slice), the 256-row weight table is
    broadcast back onto the gram stream, one integer-sum shuffle keyed
    on doc_id, and the top-k compiles to TakeOrderedAndProject (rank
    is computed after the limit, over k rows — never a global sort of
    the corpus). Reference analogue:
    corpus-statistics-driven vocabulary selection
    (text_process.py:253-274), generalized from dropping words to
    selecting documents."""
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", "lang", T.tokens("text").alias("__toks"))
    toks = F.col("__toks")
    spans = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(2))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = toked.select(
        "doc_id", "lang", F.explode(spans).alias("gram")
    ).select(
        "doc_id", "lang", F.substring(F.md5(F.col("gram")), 1, 2).alias("bucket")
    )
    bc = g.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("r_cnt"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("t_cnt"),
    )
    # corpus totals as window sums over the 256-row bucket frame: a
    # second `bc.agg(...)` branch would recompute the whole bucket
    # aggregation (and re-scan documents); the unpartitioned window is
    # a single 256-row task, not a corpus sort
    tot_w = Window.partitionBy()
    b = float(_DSIR_BUCKETS)
    wts = bc.select(
        "bucket",
        F.round(
            F.lit(1e6)
            * (
                F.log(
                    (F.col("t_cnt") + 1).cast("double")
                    / (F.sum("t_cnt").over(tot_w).cast("double") + b)
                )
                - F.log(
                    (F.col("r_cnt") + 1).cast("double")
                    / (F.sum("r_cnt").over(tot_w).cast("double") + b)
                )
            )
        )
        .cast("bigint")
        .alias("w_micro"),
    )
    scored = (
        g.join(F.broadcast(wts), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum("w_micro").cast("bigint").alias("score_micro"),
        )
    )
    order = [F.col("score_micro").desc(), F.col("doc_id").asc()]
    top = scored.orderBy(*order).limit(_DSIR_TOPK)
    return top.select(
        "doc_id",
        "n_grams",
        "score_micro",
        F.row_number().over(Window.orderBy(*order)).cast("bigint").alias("sel_rank"),
    )


# ---------------------------------------------------------------------------
# Pipeline funnel report (stage-by-stage doc/token retention)
# ---------------------------------------------------------------------------
@register(
    "pipeline_funnel",
    f"""
    WITH per AS (
        SELECT md5(text) AS h,
               count(*)::BIGINT AS copies,
               max({T.keep_expr_sql('text')}) AS keep,
               max({T.n_words_sql('text')}) AS tok
        FROM documents
        GROUP BY md5(text)
    ),
    s AS (
        SELECT sum(copies)::BIGINT AS raw_docs,
               sum(copies * tok)::BIGINT AS raw_tokens,
               count(*)::BIGINT AS uniq_docs,
               sum(tok)::BIGINT AS uniq_tokens,
               sum(CASE WHEN keep THEN copies ELSE 0 END)::BIGINT AS keep_docs,
               sum(CASE WHEN keep THEN copies * tok ELSE 0 END)::BIGINT
                   AS keep_tokens,
               sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS uk_docs,
               sum(CASE WHEN keep THEN tok ELSE 0 END)::BIGINT AS uk_tokens
        FROM per
    )
    SELECT 1::BIGINT AS stage_order, 'raw' AS stage,
           raw_docs AS n_docs, raw_tokens AS n_tokens,
           round(raw_docs::DOUBLE / raw_docs, 6) AS doc_frac,
           round(raw_tokens::DOUBLE / raw_tokens, 6) AS token_frac
    FROM s
    UNION ALL
    SELECT 2::BIGINT, 'exact_dedup', uniq_docs, uniq_tokens,
           round(uniq_docs::DOUBLE / raw_docs, 6),
           round(uniq_tokens::DOUBLE / raw_tokens, 6)
    FROM s
    UNION ALL
    SELECT 3::BIGINT, 'quality_keep', keep_docs, keep_tokens,
           round(keep_docs::DOUBLE / raw_docs, 6),
           round(keep_tokens::DOUBLE / raw_tokens, 6)
    FROM s
    UNION ALL
    SELECT 4::BIGINT, 'dedup_and_keep', uk_docs, uk_tokens,
           round(uk_docs::DOUBLE / raw_docs, 6),
           round(uk_tokens::DOUBLE / raw_tokens, 6)
    FROM s
    """,
)
def pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage retention funnel — the report every curation run
    ships: how many documents and tokens survive (1) the raw crawl,
    (2) exact dedup, (3) the Gopher/C4 quality rule, (4) both. The
    token column is what a training-budget owner actually reads; the
    doc/token fractions make inter-snapshot drift visible.

    Scale shape: ONE corpus scan; quality verdict and token count are
    computed scan-side per row, then everything collapses through a
    single shuffle keyed on md5(text) (8-byte-ish hash keys, the text
    itself never shuffles — same discipline as exact_dedup /
    boilerplate). The 4-stage report is an explode of ONE 1-row
    aggregate, so no second pass exists to disagree with the first.
    Duplicate texts share one verdict by construction (keep is a
    function of text only), which is what makes the single hash
    aggregation sufficient. Reference analogue: the between-runs
    vocabulary/document accounting the reference logs manually
    (sna_analysis.py:162-168), promoted to a first-class query."""
    docs = load_table(spark, sf_dir, "documents")
    # keep/tok via the single-tokenize score_documents shape — deriving
    # each signal from the raw text re-splits it ~10× per row (measured
    # 11.2 s vs ~3 s for this query at sf0.1); verdict semantics are
    # identical (same unrounded ratios) to the keep_expr_sql oracle.
    per = (
        q.score_documents(docs.select("text"), "text", _QCFG)
        .select(
            F.md5(F.col("text")).alias("h"),
            F.col("keep"),
            F.col("n_words").alias("tok"),
        )
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("copies"),
            F.max("keep").alias("keep"),
            F.max("tok").alias("tok"),
        )
    )
    s = per.agg(
        F.sum("copies").cast("bigint").alias("raw_docs"),
        F.sum(F.col("copies") * F.col("tok")).cast("bigint").alias("raw_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("uniq_docs"),
        F.sum("tok").cast("bigint").alias("uniq_tokens"),
        F.sum(F.when(F.col("keep"), F.col("copies")).otherwise(0))
        .cast("bigint")
        .alias("keep_docs"),
        F.sum(F.when(F.col("keep"), F.col("copies") * F.col("tok")).otherwise(0))
        .cast("bigint")
        .alias("keep_tokens"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("uk_docs"),
        F.sum(F.when(F.col("keep"), F.col("tok")).otherwise(0))
        .cast("bigint")
        .alias("uk_tokens"),
    )

    def stage(order: int, name: str, d: str, t: str):
        return F.struct(
            F.lit(order).cast("bigint").alias("stage_order"),
            F.lit(name).alias("stage"),
            F.col(d).alias("n_docs"),
            F.col(t).alias("n_tokens"),
            F.round(F.col(d).cast("double") / F.col("raw_docs"), 6).alias("doc_frac"),
            F.round(F.col(t).cast("double") / F.col("raw_tokens"), 6).alias(
                "token_frac"
            ),
        )

    rows = F.explode(
        F.array(
            stage(1, "raw", "raw_docs", "raw_tokens"),
            stage(2, "exact_dedup", "uniq_docs", "uniq_tokens"),
            stage(3, "quality_keep", "keep_docs", "keep_tokens"),
            stage(4, "dedup_and_keep", "uk_docs", "uk_tokens"),
        )
    ).alias("r")
    return s.select(rows).select(
        "r.stage_order", "r.stage", "r.n_docs", "r.n_tokens",
        "r.doc_frac", "r.token_frac",
    )


# ---------------------------------------------------------------------------
# NB classifier calibration (reliability table) — does the distilled
# quality score MEAN anything, or only its sign? Confusion matrices
# (nb_quality_confusion, nb_holdout_confusion) grade the sign; this
# grades the magnitude.
# ---------------------------------------------------------------------------
@register(
    "nb_calibration",
    _nb_scored_sql("TRUE", "TRUE")
    + """
    SELECT CAST(least(greatest(
               floor(score_micro::DOUBLE / 1000000), -10), 10) AS BIGINT)
               AS lo_bin,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN rule_keep THEN 1 ELSE 0 END)::BIGINT AS n_rule_keep,
           round(sum(CASE WHEN rule_keep THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS rule_keep_rate,
           round(avg(score_micro), 4) AS avg_score_micro
    FROM scored GROUP BY 1
    """,
)
def nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table of the distilled Bernoulli-NB quality score:
    documents bucketed by integer log-odds (score_micro in micro-nats,
    1 bin = 1 nat, clamped to ±10), each bin reporting how often the
    teacher rule actually said keep. A calibrated student shows
    rule_keep_rate rising monotonically with lo_bin and crossing 0.5
    near bin 0 — the evidence a pipeline owner needs before using the
    score as a SAMPLING WEIGHT (CCNet §4 / DSIR style) rather than a
    hard threshold. Shares the `_nb_scored_sql` spec with the
    confusion queries, so the classifier has exactly one definition.

    Scale shape: identical to nb_quality_confusion up to `scored`
    (one distinct-(doc,word) materialization, vocab log-odds
    broadcast, one groupBy(doc) shuffle); the binning adds a single
    ≤21-key aggregation over the per-document frame. The clamp bounds
    the output schema, not the data — no per-key skew risk beyond
    what the sign test already has."""
    labeled = _nb_labeled(spark, sf_dir)
    tok = clf.doc_tokens(labeled)
    lo = clf.train_log_odds(tok, labeled)
    scored = clf.score_documents_nb(labeled, tok, lo)
    lo_bin = F.least(
        F.greatest(
            F.floor(F.col("score_micro").cast("double") / 1000000),
            F.lit(-10),
        ),
        F.lit(10),
    ).cast("bigint")
    rk = F.when(F.col("rule_keep"), 1).otherwise(0)
    return scored.groupBy(lo_bin.alias("lo_bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(rk).cast("bigint").alias("n_rule_keep"),
        F.round(F.sum(rk).cast("double") / F.count(F.lit(1)), 6).alias(
            "rule_keep_rate"
        ),
        F.round(F.avg("score_micro"), 4).alias("avg_score_micro"),
    )


# ---------------------------------------------------------------------------
# Token-budget allocation (water-filling under per-source caps) —
# the step AFTER temperature weights: a small language's q-share
# can exceed what it has; the classic water-filling closed form
# allocates t_l = min(a_l, λ·w_l) with Σ t_l = T, all integer.
# ---------------------------------------------------------------------------
_ALLOC_FRACTION_DEN = 2  # target budget T = floor(total_tokens / 2)


@register(
    "token_budget_allocation",
    f"""
    WITH avail AS (
        SELECT lang, sum({T.n_words_sql("text")})::BIGINT AS a
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT sum(a)::BIGINT AS total_a FROM avail),
    tgt AS (
        SELECT CAST(FLOOR(total_a::DOUBLE / {_ALLOC_FRACTION_DEN}) AS BIGINT)
            AS t
        FROM tot
    ),
    w AS (
        SELECT lang, a,
               CAST(round(sqrt(sqrt(a::DOUBLE)) * 1000000, 0)
                   AS BIGINT) AS w
        FROM avail
    ),
    sorted AS (
        SELECT lang, a, w,
               row_number() OVER
                   (ORDER BY a::DOUBLE / w::DOUBLE, lang) AS p,
               sum(a) OVER (ORDER BY a::DOUBLE / w::DOUBLE, lang
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_a,
               sum(w) OVER (ORDER BY a::DOUBLE / w::DOUBLE, lang
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_w
        FROM w
    ),
    wtot AS (SELECT sum(w)::BIGINT AS total_w FROM w),
    cand AS (
        SELECT 0::BIGINT AS k, 0::BIGINT AS cum_a, 0::BIGINT AS cum_w
        UNION ALL
        SELECT p, cum_a, cum_w FROM sorted
    ),
    valid AS (
        SELECT c.k,
               (SELECT t FROM tgt) - c.cum_a AS num,
               (SELECT total_w FROM wtot) - c.cum_w AS den
        FROM cand c
        LEFT JOIN sorted bk ON bk.p = c.k
        LEFT JOIN sorted bn ON bn.p = c.k + 1
        WHERE (SELECT t FROM tgt) - c.cum_a >= 0
          AND (SELECT total_w FROM wtot) - c.cum_w > 0
          AND (bk.p IS NULL OR
               bk.a * ((SELECT total_w FROM wtot) - c.cum_w)
                   <= ((SELECT t FROM tgt) - c.cum_a) * bk.w)
          AND (bn.p IS NULL OR
               bn.a * ((SELECT total_w FROM wtot) - c.cum_w)
                   > ((SELECT t FROM tgt) - c.cum_a) * bn.w)
    )
    SELECT s.lang,
           s.a AS available_tokens,
           s.w AS weight_micro,
           CASE WHEN s.p <= v.k THEN s.a
                ELSE CAST(FLOOR(CAST(v.num * s.w AS DOUBLE) / v.den)
                          AS BIGINT) END AS allocated_tokens,
           (s.p <= v.k) AS capped
    FROM sorted s CROSS JOIN valid v
    ORDER BY s.lang
    """,
)
def token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token allocation: given per-language availability
    a_l (kept tokens in the corpus), temperature weights w_l ∝
    a_l^(1/4) (the lang_sampling_weights scheme at τ=4, snapped to
    integer micro-units), and a training budget T = half the corpus,
    allocate t_l = min(a_l, λ·w_l) with Σ t_l = T — the step every
    mixture plan needs once a small language's temperature share
    exceeds what it HAS. Closed form: sort by a/w, find the unique
    breakpoint k where languages 1..k saturate their caps and the rest
    share the remainder in weight proportion.

    Exactness: availability, weights and the budget are integers; the
    breakpoint conditions are integer cross-multiplications (no λ
    float ever compared); per-language allocations floor an exact-in-
    double product/quotient — both engines bit-equal, every row
    oracle-checked. The only doubles are the a/w SORT keys, identical
    IEEE divisions in both engines with a lang tie-break. The weight
    exponent is DELIBERATELY 1/4, not lang_sampling_weights' 0.3:
    x^(1/4) = sqrt(sqrt(x)) is a chain of two CORRECTLY-ROUNDED IEEE
    ops, bit-identical in the JVM, DuckDB and CPython, whereas
    Math.pow carries only a 1-ulp contract vs libm's pow, and
    round(pow(a, 0.3)·1e6) snaps that ulp into a BIGINT compared
    exactly across engines (lang_sampling_weights only ever compares
    pow output after round(·, 6) of a ratio, which absorbs the ulp).

    Scale shape: everything after the one lang-keyed corpus aggregate
    operates on a languages-sized frame (the single-partition window
    is over ≤ dozens of rows — bounded by construction, not by data).
    Reference analogue: the per-office corpus shares the reference
    prints before choosing its per-office document samples
    (text_process.py:53-61)."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    avail = docs.groupBy("lang").agg(
        F.sum(T.n_words("text")).cast("bigint").alias("a")
    )
    return _waterfill(spark, avail).orderBy("lang")


def _waterfill(spark: SparkSession, avail: DataFrame) -> DataFrame:
    """The water-filling core over an (lang, a) availability frame —
    factored out so tests can drive adversarial distributions
    (capped small sources, extreme skew) against a sequential twin."""
    w = avail.select(
        "lang",
        "a",
        # x^(1/4) as sqrt∘sqrt: correctly-rounded IEEE ops only, so the
        # BIGINT weight is bit-identical across engines (pow is not —
        # see token_budget_allocation's docstring)
        F.round(F.sqrt(F.sqrt(F.col("a").cast("double"))) * 1e6, 0)
        .cast("bigint")
        .alias("w"),
    ).localCheckpoint(eager=False)  # tiny; feeds sorted/wtot/tot
    ratio = F.col("a").cast("double") / F.col("w").cast("double")
    win = Window.orderBy(ratio, "lang")
    cum = Window.orderBy(ratio, "lang").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    srt = w.select(
        "lang",
        "a",
        "w",
        F.row_number().over(win).cast("bigint").alias("p"),
        F.sum("a").over(cum).cast("bigint").alias("cum_a"),
        F.sum("w").over(cum).cast("bigint").alias("cum_w"),
    ).localCheckpoint(eager=False)
    tot = w.agg(
        F.sum("a").cast("bigint").alias("total_a"),
        F.sum("w").cast("bigint").alias("total_w"),
    )
    cand = (
        srt.select("p", "cum_a", "cum_w")
        .unionByName(
            spark.createDataFrame(
                [(0, 0, 0)], "p bigint, cum_a bigint, cum_w bigint"
            )
        )
        .crossJoin(tot)
        .select(
            F.col("p").alias("k"),
            (
                F.floor(F.col("total_a").cast("double") / _ALLOC_FRACTION_DEN)
                .cast("bigint")
                - F.col("cum_a")
            ).alias("num"),
            (F.col("total_w") - F.col("cum_w")).alias("den"),
        )
    )
    bk = srt.select(
        F.col("p").alias("k"), F.col("a").alias("a_k"), F.col("w").alias("w_k")
    )
    bn = srt.select(
        (F.col("p") - 1).alias("k"),
        F.col("a").alias("a_n"),
        F.col("w").alias("w_n"),
    )
    valid = (
        cand.join(bk, "k", "left")
        .join(bn, "k", "left")
        .filter(
            (F.col("num") >= 0)
            & (F.col("den") > 0)
            & (
                F.col("a_k").isNull()
                | (F.col("a_k") * F.col("den") <= F.col("num") * F.col("w_k"))
            )
            & (
                F.col("a_n").isNull()
                | (F.col("a_n") * F.col("den") > F.col("num") * F.col("w_n"))
            )
        )
        .select("k", "num", "den")
    )
    out = srt.crossJoin(valid).select(
        "lang",
        F.col("a").alias("available_tokens"),
        F.col("w").alias("weight_micro"),
        F.when(F.col("p") <= F.col("k"), F.col("a"))
        .otherwise(
            F.floor(
                (F.col("num") * F.col("w")).cast("double") / F.col("den")
            ).cast("bigint")
        )
        .alias("allocated_tokens"),
        (F.col("p") <= F.col("k")).alias("capped"),
    )
    return out
