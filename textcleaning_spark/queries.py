"""Query registry: every implemented operator as a (Spark, oracle-SQL) pair.

Each entry is a named query ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) the equivalent DuckDB SQL over the driver's
pre-registered views. The driver compares row-count + schema +
order-insensitive value hash at sf=0.01 — so:

* every computed column is explicitly aliased identically on both sides;
* integer-derived values are cast to BIGINT on both sides;
* doubles are either exact-by-construction (integer ratios, halves) or
  produced by exact DECIMAL sums cast to double, or rounded;
* deterministic tie-breaks on every top-k / row_number.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from textcleaning_spark.config import CorpusStatsConfig, QualityConfig, stop_pos
from textcleaning_spark.functions import text as T
from textcleaning_spark.functions import tagger
from textcleaning_spark.functions import urls as _urls
from textcleaning_spark.operators import classifier as clf
from textcleaning_spark.operators import cooccurrence as co
from textcleaning_spark.operators import corpus_stats as cs
from textcleaning_spark.operators import linkgraph as lg
from textcleaning_spark.operators import quality as q
from textcleaning_spark.sources.registry import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLE[name] = sql
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLE)


# ---------------------------------------------------------------------------
# shared SQL fragments (generated from the same specs as the Spark side)
# ---------------------------------------------------------------------------
_TOK = T.tokens_sql("text")
_DOC_TOKENS_CTE = f"""
tok AS (
    SELECT doc_id, unnest({_TOK}) AS word FROM documents
)
"""


# ---------------------------------------------------------------------------
# 1. Language routing (P2) — the reference's isin office split
# ---------------------------------------------------------------------------
@register(
    "lang_route_counts",
    """
    SELECT lang,
           (lang IN ('en')) AS latin_route,
           count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS total_chars
    FROM documents
    GROUP BY lang
    """,
)
def lang_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: dictionary routing by language + per-route sizes."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    ).withColumn("latin_route", F.col("lang").isin("en"))


# ---------------------------------------------------------------------------
# 2. TF / DF / IDF (A4-A7)
# ---------------------------------------------------------------------------
@register(
    "tf_df_idf",
    f"""
    WITH {_DOC_TOKENS_CTE}
    SELECT word,
           count(*)::BIGINT AS tf,
           count(DISTINCT doc_id)::BIGINT AS df,
           round(ln((SELECT count(*) FROM documents)::DOUBLE
                    / (count(DISTINCT doc_id) + 1)), 6) AS idf
    FROM tok
    GROUP BY word
    """,
)
def tf_df_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+A7: one explode + one aggregation; idf = ln(N/(df+1))."""
    docs = load_table(spark, sf_dir, "documents")
    tok = cs.explode_tokens(docs, "doc_id", "text")
    stats = cs.tf_df(tok, "doc_id")
    n = docs.agg(F.count(F.lit(1)).alias("__n"))
    return (
        stats.crossJoin(F.broadcast(n))
        .withColumn("idf", F.round(F.log(F.col("__n").cast("double") / (F.col("df") + 1)), 6))
        .drop("__n")
    )


# ---------------------------------------------------------------------------
# 3. pandas-style average rank over idf (W2)
# ---------------------------------------------------------------------------
@register(
    "idf_average_rank",
    f"""
    WITH {_DOC_TOKENS_CTE},
    stats AS (
        SELECT word,
               count(DISTINCT doc_id)::BIGINT AS df,
               round(ln((SELECT count(*) FROM documents)::DOUBLE
                        / (count(DISTINCT doc_id) + 1)), 6) AS idf
        FROM tok GROUP BY word
    )
    SELECT word, idf, {cs.average_rank_sql('idf')}
    FROM stats
    """,
)
def idf_average_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: tied idf values get the MEAN of their ordinal ranks
    (pandas ``Series.rank()`` semantics, text_process_v5.py:157)."""
    df = tf_df_idf(spark, sf_dir).select("word", "idf")
    return cs.average_rank(df, "idf")


# ---------------------------------------------------------------------------
# 4. Top-k vocabulary with rank ids (O3)
# ---------------------------------------------------------------------------
_VOCAB_CFG = CorpusStatsConfig(vocab_top_n=30, vocab_min_freq=3)


@register(
    "vocab_topk",
    f"""
    WITH utok AS (
        SELECT doc_id, upper(unnest({_TOK})) AS word FROM documents
    ),
    freq AS (
        SELECT word, count(*)::BIGINT AS tf FROM utok GROUP BY word
    ),
    ranked AS (
        SELECT word, tf,
               row_number() OVER (ORDER BY tf DESC, word ASC)::BIGINT AS rank_id
        FROM freq WHERE tf >= {_VOCAB_CFG.vocab_min_freq}
    )
    SELECT word, tf, rank_id FROM ranked
    WHERE rank_id <= {_VOCAB_CFG.vocab_top_n}
    """,
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: upper-cased tokens (sna_analysis.py:74) → top-n by frequency
    with deterministic tie-break; TakeOrderedAndProject, no full sort."""
    docs = load_table(spark, sf_dir, "documents")
    tok = cs.explode_tokens(docs, "doc_id", "text", upper=True)
    freq = tok.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    return cs.vocabulary(
        freq, top_n=_VOCAB_CFG.vocab_top_n, min_freq=_VOCAB_CFG.vocab_min_freq
    )


# ---------------------------------------------------------------------------
# 5. IDF quantile cutoff × alpha (A11) — the stop-word discovery rule
# ---------------------------------------------------------------------------
_STATS_CFG = CorpusStatsConfig()


@register(
    "idf_quantile_cutoff",
    f"""
    WITH {_DOC_TOKENS_CTE},
    stats AS (
        SELECT word,
               round(ln((SELECT count(*) FROM documents)::DOUBLE
                        / (count(DISTINCT doc_id) + 1)), 6) AS idf
        FROM tok GROUP BY word
    ),
    cut AS (
        SELECT quantile_cont(idf, {_STATS_CFG.quantile_q}) * {_STATS_CFG.alpha} AS cutoff
        FROM stats
    )
    SELECT round(cut.cutoff, 6) AS cutoff,
           count(*) FILTER (WHERE stats.idf >= cut.cutoff)::BIGINT AS n_survivors
    FROM stats, cut
    GROUP BY cut.cutoff
    """,
)
def idf_quantile_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: exact interpolated percentile(0.25) × alpha=0.9
    (sna_analysis.py:174-184) + surviving-word count."""
    stats = tf_df_idf(spark, sf_dir).select("idf")
    cut = cs.quantile_cutoff(stats, "idf", _STATS_CFG.quantile_q, _STATS_CFG.alpha)
    return (
        stats.crossJoin(F.broadcast(cut))
        .groupBy("cutoff")
        .agg(
            F.count(F.when(F.col("idf") >= F.col("cutoff"), 1)).cast("bigint").alias("n_survivors")
        )
        .select(F.round("cutoff", 6).alias("cutoff"), "n_survivors")
    )


# ---------------------------------------------------------------------------
# 6. Major POS per word (A8/W1) via the deterministic rule tagger
# ---------------------------------------------------------------------------
@register(
    "major_pos",
    f"""
    WITH {_DOC_TOKENS_CTE},
    tagged AS (
        SELECT word, {tagger.tag_word_sql('word')} AS tag FROM tok
    ),
    counted AS (
        SELECT word, tag, count(*)::BIGINT AS cnt FROM tagged GROUP BY word, tag
    )
    SELECT word, tag AS major_pos, cnt FROM (
        SELECT word, tag, cnt,
               row_number() OVER (PARTITION BY word ORDER BY cnt DESC, tag ASC) AS rn
        FROM counted
    ) WHERE rn = 1
    """,
)
def major_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: argmax POS tag per word (text_process_v5.py:98-119).

    The rule tagger is a pure function of the word string, so ``tag``
    is functionally dependent on ``word``: the generic two-shuffle
    argmax (groupBy(word,tag) + partition window, kept generic in
    cs.major_tag and exercised by stem_surface_forms) degenerates to
    ONE groupBy(word) plus a projection — same rows, half the plan.
    The oracle SQL keeps the generic argmax spec and proves equality."""
    docs = load_table(spark, sf_dir, "documents")
    tok = cs.explode_tokens(docs, "doc_id", "text")
    return (
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select("word", tagger.tag_word(F.col("word")).alias("major_pos"), "cnt")
    )


# ---------------------------------------------------------------------------
# 7. Word-level keep/drop verdict — the reference's core rule
#    keep ⇔ idf_rank >= K ∧ major_pos ∉ stop_pos ∧ len(word) > 1
# ---------------------------------------------------------------------------
_KEEP_K = 10.0  # text_process_v6.py:168 variant (v5 uses 100)
_STOP3_SQL = ", ".join(f"'{t}'" for t in stop_pos(3))


@register(
    "word_keep_verdict",
    f"""
    WITH {_DOC_TOKENS_CTE},
    stats AS (
        SELECT word,
               round(ln((SELECT count(*) FROM documents)::DOUBLE
                        / (count(DISTINCT doc_id) + 1)), 6) AS idf
        FROM tok GROUP BY word
    ),
    ranked AS (
        SELECT word, idf, {cs.average_rank_sql('idf')} FROM stats
    ),
    tagged AS (
        SELECT word, {tagger.tag_word_sql('word')} AS tag FROM tok
    ),
    majorp AS (
        SELECT word, tag AS major_pos FROM (
            SELECT word, tag,
                   row_number() OVER (PARTITION BY word
                                      ORDER BY count(*) DESC, tag ASC) AS rn
            FROM tagged GROUP BY word, tag
        ) WHERE rn = 1
    )
    SELECT r.word, r.idf, r.idf_rank, m.major_pos,
           (r.idf_rank >= {_KEEP_K}
            AND m.major_pos NOT IN ({_STOP3_SQL})
            AND length(r.word) > 1) AS keep
    FROM ranked r JOIN majorp m ON r.word = m.word
    """,
)
def word_keep_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's quality filter (text_process_v5.py:164-169 +
    P7 length rule): word survives iff rank, POS and length rules pass.

    Single corpus pass: ``major_pos`` is a pure function of the word
    (see major_pos above), so instead of tokenizing twice and joining
    two word-level aggregates (the oracle SQL's spec shape), we project
    the tag onto the ranked stats directly — one explode, one groupBy,
    one broadcast rank-back, zero word-word joins."""
    ranked = idf_average_rank(spark, sf_dir)
    out = ranked.withColumn("major_pos", tagger.tag_word(F.col("word")))
    keep = (
        (F.col("idf_rank") >= F.lit(_KEEP_K))
        & ~F.col("major_pos").isin(*stop_pos(3))
        & (F.length("word") > 1)
    )
    return out.select("word", "idf", "idf_rank", "major_pos", keep.alias("keep"))


# ---------------------------------------------------------------------------
# 8. Document quality profile — flagship Gopher/C4 keep/drop rollup
# ---------------------------------------------------------------------------
_QCFG = QualityConfig()


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
# 8b. Source-level quality filter (round 3) — the URL/domain-level
#     filtering pass of C4/RefinedWeb-style pipelines: aggregate the
#     per-document keep verdict to the source and flag sources whose
#     keep rate falls below the blocklist threshold.
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
# 8c. Naive-Bayes quality classifier distilled from the rule verdict
#     (round 3) — the CCNet/DSIR-shape: rules label the corpus, a
#     linear classifier is trained on those labels in ONE aggregation,
#     and scoring is a broadcast join + integer sum. Deterministic via
#     fixed-point micro-unit log-odds (see operators/classifier.py).
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
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # labeled feeds four subtrees (train counts, train totals, score
    # tokens, score docs); checkpoint it once instead of re-running the
    # quality chain per subtree (measured 36% at sf0.1). In production
    # the labeled frame IS the pipeline's persisted output — the
    # checkpoint stands in for reading that table back.
    labeled = (
        q.score_documents(docs, "text", _QCFG)
        .select("doc_id", "text", "keep")
        .localCheckpoint(eager=False)
    )
    tok = clf.doc_tokens(labeled)
    lo = clf.train_log_odds(tok, labeled)
    scored = clf.score_documents_nb(labeled, tok, lo)
    return scored.groupBy("rule_keep", "nb_keep").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("score_micro").cast("bigint").alias("sum_score_micro"),
    )


_NB_SALT = "nb"
_NB_TRAIN_HEX_CUT = "19999999"  # md5 prefix < this ≈ 10% training split
_NB_TRAIN_PRED = (
    f"substr(md5(doc_id::VARCHAR || ':{_NB_SALT}'), 1, 8) < '{_NB_TRAIN_HEX_CUT}'"
)


def _nb_member():
    """Spark twin of the md5-prefix training-split membership."""
    return (
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{_NB_SALT}"))),
            1,
            8,
        )
        < _NB_TRAIN_HEX_CUT
    )


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
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    labeled = (
        q.score_documents(docs, "text", _QCFG)
        .select("doc_id", "text", "keep")
        .localCheckpoint(eager=False)
    )
    member = _nb_member()
    train = labeled.filter(member)
    holdout = labeled.filter(~member)
    lo = clf.train_log_odds(clf.doc_tokens(train), train)
    scored = clf.score_documents_nb(holdout, clf.doc_tokens(holdout), lo)
    return scored.groupBy("rule_keep", "nb_keep").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("score_micro").cast("bigint").alias("sum_score_micro"),
    )


# ---------------------------------------------------------------------------
# 8d. Stratified sampling — per-language rate map (data-mix rebalance)
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
           sum(CASE WHEN substr(md5(doc_id::VARCHAR || ':{_STRAT_SALT}'), 1, 8)
                         < CASE WHEN lang = 'en' THEN '{_STRAT_CUTS["en"]}'
                                ELSE '{_STRAT_DEFAULT_CUT}' END
                    THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
           sum(CASE WHEN substr(md5(doc_id::VARCHAR || ':{_STRAT_SALT}'), 1, 8)
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
    member = (
        F.substring(
            F.md5(
                F.concat(F.col("doc_id").cast("string"), F.lit(f":{_STRAT_SALT}"))
            ),
            1,
            8,
        )
        < cut
    )
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(member, 1).otherwise(0)).cast("bigint").alias("n_sampled"),
        F.sum(F.when(member, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("sampled_chars"),
    )


# ---------------------------------------------------------------------------
# 8e. Training-mix report — kept-token budget per (lang, length tier)
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
# 9/10. Co-occurrence edges + nodes (J1/P3/P4/P11/P12/A2/A3)
# ---------------------------------------------------------------------------
@register(
    "cooccurrence_edges",
    f"""
    WITH tok AS (
        SELECT lang AS ts, source AS actor, unnest({_TOK}) AS word
        FROM documents
    ),
    w AS (
        SELECT ts, actor, word, count(*)::BIGINT AS weight
        FROM tok GROUP BY ts, actor, word
    )
    SELECT a.ts, a.actor AS src, b.actor AS dst,
           round(sum((a.weight + b.weight) / 2.0), 4) AS weight
    FROM w a JOIN w b
      ON a.word = b.word AND a.ts = b.ts AND a.actor <> b.actor
    GROUP BY a.ts, a.actor, b.actor
    """,
)
def cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 flagship self-join: actors (sources) sharing words within a
    ts bucket (lang), edge weight (w_a+w_b)/2 summed per pair."""
    docs = load_table(spark, sf_dir, "documents")
    w = co.actor_word_weights(docs, "lang", "source", "text", "doc_id")
    return co.cooccurrence_edges(w)


@register(
    "cooccurrence_nodes",
    f"""
    WITH tok AS (
        SELECT lang AS ts, source AS actor, unnest({_TOK}) AS word
        FROM documents
    ),
    w AS (
        SELECT ts, actor, word FROM tok GROUP BY ts, actor, word
    )
    SELECT actor AS id, count(*)::BIGINT AS cnt FROM w GROUP BY actor
    """,
)
def cooccurrence_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: node table — distinct (ts, word) rows per actor."""
    docs = load_table(spark, sf_dir, "documents")
    w = co.actor_word_weights(docs, "lang", "source", "text", "doc_id")
    return co.node_table(w)


# ===========================================================================
# Batch 2: windows, dedup, scrub
# ===========================================================================
from textcleaning_spark.config import ScrubConfig
from textcleaning_spark.functions import stemmer
from textcleaning_spark.functions.scrub import scrub_chain
from textcleaning_spark.operators import dedup as dd
from textcleaning_spark.operators import windows as win


# ---------------------------------------------------------------------------
# 11. Sliding event-time window (W3)
# ---------------------------------------------------------------------------
@register(
    "sliding_window_events",
    """
    WITH expanded AS (
        SELECT unnest(generate_series(date_trunc('day', ts) - INTERVAL 6 DAY,
                                      date_trunc('day', ts),
                                      INTERVAL 1 DAY)) AS win_start,
               value
        FROM events
    )
    SELECT win_start::DATE AS win_start,
           count(*)::BIGINT AS n_events,
           (sum(value::DECIMAL(18,6)))::DOUBLE AS total_value
    FROM expanded
    GROUP BY 1
    """,
)
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: 7-day sliding windows, stride 1 day, one pass (each event
    expands to the 7 windows containing it) — the batch twin of a
    Structured Streaming sliding-window aggregation."""
    ev = load_table(spark, sf_dir, "events")
    out = win.sliding_window_agg(ev.select("ts", "value"), "ts", 7, "value")
    return out.select(
        F.col("win_start").cast("date").alias("win_start"), "n_events", "total_value"
    )


# ---------------------------------------------------------------------------
# 15/16/17. Dedup family
# ---------------------------------------------------------------------------
@register(
    "exact_dedup",
    """
    SELECT md5(text) AS text_hash,
           count(*)::BIGINT AS n_copies,
           min(doc_id) AS keeper
    FROM documents
    GROUP BY md5(text)
    """,
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on the 128-bit content hash; text never
    shuffles, only (hash, id)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.exact_duplicates(docs, "doc_id", "text")


_MINHASH_K = 8


@register(
    "minhash_signatures",
    "SELECT doc_id, "
    + ", ".join(dd.minhash_signature_sql("text", _MINHASH_K))
    + " FROM documents",
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=8 MinHash signatures as native expressions (md5 permutations
    over the distinct-token set)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_signature(docs, "doc_id", "text", _MINHASH_K)


_JACCARD_T = 0.96


@register(
    "near_dup_jaccard",
    f"""
    WITH tok AS (
        SELECT doc_id AS doc, unnest(list_distinct({_TOK})) AS word FROM documents
    ),
    sizes AS (SELECT doc, count(*)::BIGINT AS sz FROM tok GROUP BY doc),
    common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, count(*)::BIGINT AS common
        FROM tok a JOIN tok b ON a.word = b.word AND a.doc < b.doc
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(common::DOUBLE / (sa.sz + sb.sz - common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE common::DOUBLE / (sa.sz + sb.sz - common) >= {_JACCARD_T}
    """,
)
def near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs token-set Jaccard ≥ 0.96 (oracle path; the LSH
    pipeline replaces this at scale — see lsh_candidate_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.token_jaccard_pairs(docs, "doc_id", "text", _JACCARD_T)


# ---------------------------------------------------------------------------
# 19. CUBE profile — replaces the reference's per-nation copy-pasted
#     pipelines (text_process_v6.py:172-199) with one grouped query
# ---------------------------------------------------------------------------
@register(
    "cube_profile",
    """
    SELECT coalesce(lang, 'ALL') AS lang_g,
           coalesce(source, 'ALL') AS source_g,
           count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS total_chars
    FROM documents
    GROUP BY CUBE (lang, source)
    """,
)
def cube_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.cube("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang_g"),
            F.coalesce(F.col("source"), F.lit("ALL")).alias("source_g"),
            "n_docs",
            "total_chars",
        )
    )


# ---------------------------------------------------------------------------
# 20. PII / toxicity scrub parity (F9 generalized; north_rule scrub)
# ---------------------------------------------------------------------------
_SCRUB = ScrubConfig(toxic_terms=("spark",))


def _scrub_sql(col: str) -> str:
    out = col
    for _name, pat, rep in _SCRUB.rules:
        p = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{rep}', 'g')"
    for term in _SCRUB.toxic_terms:
        out = f"regexp_replace({out}, '\\b{term}\\b', '{_SCRUB.toxic_replacement}', 'g')"
    return out


@register(
    "scrub_parity",
    f"""
    SELECT doc_id,
           md5({_scrub_sql('text')}) AS scrub_hash,
           len(regexp_extract_all(text, '\\bspark\\b'))::BIGINT AS tox_hits
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
        F.regexp_count(F.col("text"), F.lit(r"\bspark\b")).cast("bigint").alias("tox_hits"),
    )


# ---------------------------------------------------------------------------
# 21. Stem → surface-form argmax (J4/A9; text_process_v4.py:17-30)
# ---------------------------------------------------------------------------
@register(
    "stem_surface_forms",
    f"""
    WITH {_DOC_TOKENS_CTE},
    stemmed AS (
        SELECT word, {stemmer.stem_word_sql('word')} AS stem FROM tok
    ),
    counted AS (
        SELECT stem, word, count(*)::BIGINT AS cnt FROM stemmed GROUP BY stem, word
    )
    SELECT stem, word AS surface, cnt FROM (
        SELECT stem, word, cnt,
               row_number() OVER (PARTITION BY stem ORDER BY cnt DESC, word ASC) AS rn
        FROM counted
    ) WHERE rn = 1
    """,
)
def stem_surface_forms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: most frequent original token per stem (argmax via
    row_number), using the deterministic S-stemmer."""
    docs = load_table(spark, sf_dir, "documents")
    tok = cs.explode_tokens(docs, "doc_id", "text")
    stemmed = tok.withColumn("stem", stemmer.stem_word(F.col("word")))
    counted = stemmed.groupBy("stem", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("stem").orderBy(F.col("cnt").desc(), F.col("word").asc())
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("stem", F.col("word").alias("surface"), "cnt")
    )


# ---------------------------------------------------------------------------
# 22. Cleaned (scrubbed) text — the reference's clean_text chain
#     (P7 len>1, P9 stop words, P8 stop-POS lv1, F12 array_join)
# ---------------------------------------------------------------------------
from textcleaning_spark.config import STOP_WORDS as _SW

_SW_SQL = ", ".join(f"'{w}'" for w in _SW)
_STOP1_SQL = ", ".join(f"'{t}'" for t in stop_pos(1))


@register(
    "cleaned_text",
    f"""
    WITH kept AS (
        SELECT doc_id,
               list_filter({_TOK},
                   t -> length(t) > 1
                        AND NOT list_contains([{_SW_SQL}], lower(t))
                        AND ({tagger.tag_word_sql('t')}) NOT IN ({_STOP1_SQL})
               ) AS toks
        FROM documents
    )
    SELECT doc_id,
           md5(array_to_string(toks, ' ')) AS clean_hash,
           len(toks)::BIGINT AS n_kept
    FROM kept
    """,
)
def cleaned_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's per-document cleaning chain (text_process.py:
    259-267): tokenize → drop stop-POS (lv1) → drop 1-char tokens →
    drop stop words → ' '-join. Byte-level parity via md5."""
    docs = load_table(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(w) for w in _SW])
    kept = F.filter(
        T.tokens("text"),
        lambda t: (F.length(t) > 1)
        & ~F.array_contains(stop_arr, F.lower(t))
        & ~tagger.tag_word(t).isin(*stop_pos(1)),
    )
    return docs.select(
        "doc_id",
        F.md5(F.encode(F.array_join(kept, " "), "UTF-8")).alias("clean_hash"),
        F.size(kept).cast("bigint").alias("n_kept"),
    )


# ===========================================================================
# Batch 3: set ops, semi/anti joins, descriptive stats, SimHash, LSH
# ===========================================================================


# ---------------------------------------------------------------------------
# 23. Descriptive statistics over idf (A10; test.py:44-57 golden shape)
# ---------------------------------------------------------------------------
@register(
    "idf_descriptive_stats",
    f"""
    WITH {_DOC_TOKENS_CTE},
    stats AS (
        SELECT word,
               round(ln((SELECT count(*) FROM documents)::DOUBLE
                        / (count(DISTINCT doc_id) + 1)), 6) AS idf
        FROM tok GROUP BY word
    )
    SELECT round(min(idf), 4) AS min_v,
           round(max(idf), 4) AS max_v,
           round(avg(idf), 4) AS mean_v,
           round(quantile_cont(idf, 0.25), 4) AS q25_v,
           round(quantile_cont(idf, 0.5), 4) AS median_v,
           round(sum(idf), 4) AS sum_v,
           count(*)::BIGINT AS n_v
    FROM stats
    """,
)
def idf_descriptive_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: min/max/mean/quantiles/sum in one aggregation. Values are
    sums over ≤~100 rounded idf values — order noise is below the 4-dp
    rounding for this vocabulary size."""
    stats = tf_df_idf(spark, sf_dir).select("idf")
    return cs.descriptive_stats(stats, "idf")


# ---------------------------------------------------------------------------
# 24. Vocabulary semi-join (J2/P10) — keep only in-vocab tokens
# ---------------------------------------------------------------------------
@register(
    "vocab_semijoin_counts",
    f"""
    WITH utok AS (
        SELECT doc_id, upper(unnest({_TOK})) AS word FROM documents
    ),
    freq AS (SELECT word, count(*)::BIGINT AS tf FROM utok GROUP BY word),
    vocab AS (
        SELECT word FROM (
            SELECT word, row_number() OVER (ORDER BY tf DESC, word ASC) AS rank_id
            FROM freq WHERE tf >= 3
        ) WHERE rank_id <= 30
    )
    SELECT doc_id, count(*)::BIGINT AS n_vocab_tokens
    FROM utok SEMI JOIN vocab ON utok.word = vocab.word
    GROUP BY doc_id
    """,
)
def vocab_semijoin_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: tokens kept iff present in the top-k vocabulary —
    broadcast left-semi join (sna_analysis.py:243 semantics)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = cs.explode_tokens(docs, "doc_id", "text", upper=True)
    freq = tok.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    vocab = cs.vocabulary(freq, top_n=30, min_freq=3).select("word")
    kept = tok.join(F.broadcast(vocab), "word", "left_semi")
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vocab_tokens")
    )


# ---------------------------------------------------------------------------
# 25. Stop-word anti-join (J3) — the large-stop-list variant of P9
# ---------------------------------------------------------------------------
@register(
    "stopword_antijoin_counts",
    f"""
    WITH {_DOC_TOKENS_CTE},
    stops AS (SELECT unnest([{', '.join(f"'{w}'" for w in _SW)}]) AS sw)
    SELECT doc_id, count(*)::BIGINT AS n_content_tokens
    FROM tok ANTI JOIN stops ON lower(tok.word) = stops.sw
    GROUP BY doc_id
    """,
)
def stopword_antijoin_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: tokens dropped iff present in the stop list — left_anti
    against a broadcast stop table (the scalable form of the in-array
    filter used when stop lists grow beyond literal-array size)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = cs.explode_tokens(docs, "doc_id", "text")
    stops = spark.createDataFrame([(w,) for w in _SW], ["sw"])
    kept = tok.join(
        F.broadcast(stops), F.lower(F.col("word")) == F.col("sw"), "left_anti"
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_content_tokens")
    )


# ---------------------------------------------------------------------------
# 26. Routed split + union (X3; the reference's planned KR/EN merge)
# ---------------------------------------------------------------------------
@register(
    "routed_union_profile",
    """
    WITH latin AS (
        SELECT 'latin' AS route, doc_id, n_chars FROM documents
        WHERE lang IN ('en', 'de', 'fr', 'es')
    ),
    cjk AS (
        SELECT 'cjk' AS route, doc_id, n_chars FROM documents
        WHERE NOT lang IN ('en', 'de', 'fr', 'es')
    ),
    unioned AS (SELECT * FROM latin UNION ALL SELECT * FROM cjk)
    SELECT route, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars
    FROM unioned GROUP BY route
    """,
)
def routed_union_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: language-routed processing branches merged with unionByName
    (text_process.py:48-49's planned design, done declaratively)."""
    docs = load_table(spark, sf_dir, "documents")
    latin = docs.filter(F.col("lang").isin("en", "de", "fr", "es")).select(
        F.lit("latin").alias("route"), "doc_id", "n_chars"
    )
    cjk = docs.filter(~F.col("lang").isin("en", "de", "fr", "es")).select(
        F.lit("cjk").alias("route"), "doc_id", "n_chars"
    )
    return (
        latin.unionByName(cjk)
        .groupBy("route")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# 27. Timestamp label formatting (F7; text_process_v2.py:263-264)
# ---------------------------------------------------------------------------
@register(
    "event_day_labels",
    """
    SELECT printf('[%d]', (epoch_us(date_trunc('day', ts)) // 86400000000)::BIGINT)
               AS day_label,
           count(*)::BIGINT AS n_events
    FROM events
    GROUP BY 1
    """,
)
def event_day_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: '['+str(x)+']' label formatting — format_string over the
    epoch-day number (engine-portable integer date math)."""
    ev = load_table(spark, sf_dir, "events")
    day_num = (
        F.unix_micros(F.date_trunc("day", F.col("ts").cast("timestamp")))
        / F.lit(86_400_000_000)
    ).cast("bigint")
    return (
        ev.select(F.format_string("[%d]", day_num).alias("day_label"))
        .groupBy("day_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# 29. SimHash fingerprints (dedup family; 16-bit engine-portable)
# ---------------------------------------------------------------------------
def _simhash_sql(text_col: str, n_bits: int = 16) -> str:
    """DuckDB twin of operators/dedup.simhash: per-token md5-prefix
    hashes materialized once (th CTE-less: a single list_transform
    bound to a lambda-local) then one ±1 vote fold per bit."""
    toks = f"list_distinct(list_filter(string_split({text_col}, ' '), x -> x <> ''))"
    th = (
        f"list_transform({toks}, t -> "
        f"('0x' || substring(md5(t), 1, {n_bits // 4}))::BIGINT)"
    )
    bits = []
    for bit in range(n_bits):
        mask = 1 << bit
        bits.append(
            f"(CASE WHEN list_sum(list_transform(th, h -> CASE WHEN "
            f"(h & {mask}) > 0 "
            f"THEN 1 ELSE -1 END)) > 0 THEN {mask} ELSE 0 END)"
        )
    fp = "(" + " + ".join(bits) + ")::BIGINT"
    # bind th once via a scalar subquery-free lateral: DuckDB lacks a
    # let-binding in scalar context, so emit a list_transform over a
    # one-element list carrying th (evaluated once per row)
    return (
        f"list_transform([{th}], th -> {fp})[1]"
    )


@register(
    "simhash_fingerprints",
    f"SELECT doc_id, {_simhash_sql('text')} AS simhash FROM documents",
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over distinct tokens as native expressions —
    near-dup docs differ in few fingerprint bits."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.simhash16(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# 29b. SimHash hamming-band near-dup pairs (round 3): band equi-join +
#      bit_count(xor) filter — exact for hamming <= bands-1 by
#      pigeonhole, shuffling O(docs × bands) keys, never the O(N²)
#      pair space (Manku/Jain/Sarma WWW 2007 blocking).
# ---------------------------------------------------------------------------
@register(
    "simhash_near_dup",
    f"""
    WITH fp AS (
        SELECT doc_id, {_simhash_sql('text', 32)} AS simhash FROM documents
    ), bands AS (
        SELECT doc_id, simhash, unnest([0, 1, 2, 3]) AS band FROM fp
    ), keyed AS (
        SELECT doc_id, simhash, band,
               (simhash >> (band * 8)) & 255 AS band_val
        FROM bands
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS fp_a, b.simhash AS fp_b
        FROM keyed a
        JOIN keyed b ON a.band = b.band AND a.band_val = b.band_val
                     AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(fp_a, fp_b))::BIGINT AS hamming
    FROM cand
    WHERE bit_count(xor(fp_a, fp_b)) <= 3
    """,
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs within hamming distance 3 of each other's
    32-bit SimHash, found by the 4×8-bit band join (exact at this
    radius by pigeonhole — see operators/dedup.simhash_near_dup for
    the band-width scale analysis)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.simhash_near_dup(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# 30. MinHash-LSH candidate pairs — the linear-shuffle near-dup path
# ---------------------------------------------------------------------------
@register(
    "lsh_candidate_pairs",
    f"""
    WITH sigs AS (
        SELECT doc_id, {', '.join(dd.minhash_signature_sql('text', 8))}
        FROM documents
    ),
    banded AS (
        SELECT doc_id, b.band_id,
               CASE b.band_id
                   WHEN 0 THEN md5(sig_0 || '|' || sig_1)
                   WHEN 1 THEN md5(sig_2 || '|' || sig_3)
                   WHEN 2 THEN md5(sig_4 || '|' || sig_5)
                   ELSE md5(sig_6 || '|' || sig_7)
               END AS band_hash
        FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS band_id) b
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    """,
)
def lsh_candidate_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding over MinHash signatures: candidate generation joins
    on (band, hash) buckets — O(docs × bands) shuffle, never O(docs²)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signature(docs, "doc_id", "text", k=8)
    return dd.lsh_candidate_pairs(sigs, "doc_id", k=8, bands=4)


# ---------------------------------------------------------------------------
# 31. NLP annotation rollup — the PYTHON KERNEL oracle-checked end to
#     end: the Spark side runs the Arrow annotation UDF; the oracle
#     re-derives the same tokens (the kernel's fixed regex via DuckDB
#     regexp_extract_all — RE2 ≡ Python re on this ASCII corpus) and
#     the same tags (tagger.tag_word_ctx_sql: the word-level CASE from
#     the identical rule table + the all-caps-span context rule via
#     lag/lead over token position). A kernel/rule divergence breaks
#     the hash.
# ---------------------------------------------------------------------------
@register(
    "nlp_tag_distribution",
    f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(text, '\\w+|[^\\w\\s]') AS t
        FROM documents
    ), tok AS (
        SELECT doc_id, unnest(t) AS word, generate_subscripts(t, 1) AS pos
        FROM toks
    ), ctx AS (
        SELECT word,
               lag(word)  OVER (PARTITION BY doc_id ORDER BY pos) AS prev_w,
               lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS next_w
        FROM tok
    )
    SELECT {tagger.tag_word_ctx_sql('word', 'prev_w', 'next_w')} AS tag,
           count(*)::BIGINT AS cnt
    FROM ctx
    GROUP BY tag
    """,
)
def nlp_tag_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag histogram via the Arrow annotation kernel (functions/nlp.py);
    per-token golden chains additionally asserted in
    tests/test_nlp_kernels.py."""
    from textcleaning_spark.functions.nlp import with_annotations

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ann = with_annotations(docs, "text")
    return (
        ann.select(F.explode(F.col("nlp.tags")).alias("tag"))
        .groupBy("tag")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# 32. Alpha sweep (sna_analysis.py:187-191): all six cutoffs in ONE
#     query — the reference loops the whole corpus per alpha
# ---------------------------------------------------------------------------
_ALPHAS = (0.5, 0.6, 0.7, 0.8, 0.9, 1.0)


@register(
    "idf_alpha_sweep",
    f"""
    WITH {_DOC_TOKENS_CTE},
    stats AS (
        SELECT word,
               round(ln((SELECT count(*) FROM documents)::DOUBLE
                        / (count(DISTINCT doc_id) + 1)), 6) AS idf
        FROM tok GROUP BY word
    ),
    q AS (SELECT quantile_cont(idf, 0.25) AS q25 FROM stats),
    alphas AS (SELECT unnest([{', '.join(str(a) for a in _ALPHAS)}]) AS alpha)
    SELECT alphas.alpha,
           round(q.q25 * alphas.alpha, 6) AS cutoff,
           count(*) FILTER (WHERE stats.idf >= q.q25 * alphas.alpha)::BIGINT
               AS n_survivors
    FROM stats, q, alphas
    GROUP BY alphas.alpha, q.q25
    """,
)
def idf_alpha_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 sweep: one scan computes every alpha's cutoff + survivor
    count (the reference reruns the corpus once per alpha)."""
    stats = tf_df_idf(spark, sf_dir).select("idf")
    q25 = stats.agg(F.expr("percentile(idf, 0.25)").alias("q25"))
    alphas = spark.createDataFrame([(a,) for a in _ALPHAS], ["alpha"])
    return (
        stats.crossJoin(F.broadcast(q25))
        .crossJoin(F.broadcast(alphas))
        .groupBy("alpha", "q25")
        .agg(
            F.count(F.when(F.col("idf") >= F.col("q25") * F.col("alpha"), 1))
            .cast("bigint")
            .alias("n_survivors")
        )
        .select(
            "alpha",
            F.round(F.col("q25") * F.col("alpha"), 6).alias("cutoff"),
            "n_survivors",
        )
    )


# ===========================================================================
# Batch 4: shingle near-dup, subtoken counts, fingerprints
# ===========================================================================


# ---------------------------------------------------------------------------
# 34. 3-gram shingle near-dup pairs (the n-gram variant of Jaccard)
# ---------------------------------------------------------------------------
def _doc_shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc, __sh): distinct word-3-gram shingle set per document.

    The token array is materialized ONCE into a column before the
    shingle expression references it four times — CollapseProject
    would otherwise inline four copies of the split (the CLAUDE.md
    pipeline-shape rule; measured ~3× on shingle_near_dup)."""
    toked = docs.select(F.col("doc_id").alias("doc"), T.tokens("text").alias("__toks"))
    toks = F.col("__toks")
    shingles = F.array_distinct(
        F.when(
            F.size(toks) >= 3,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(3))),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    return toked.select("doc", shingles.alias("__sh"))


@register(
    "shingle_near_dup",
    f"""
    WITH sh AS (
        SELECT doc_id AS doc,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len({_TOK}) - 1, 1)),
                   i -> array_to_string(list_slice({_TOK}, i, i + 2), ' ')
               ))) AS shingle
        FROM documents
    ),
    sizes AS (SELECT doc, count(*)::BIGINT AS sz FROM sh GROUP BY doc),
    common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, count(*)::BIGINT AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(common::DOUBLE / (sa.sz + sb.sz - common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE common::DOUBLE / (sa.sz + sb.sz - common) >= 0.5
    """,
)
def shingle_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word 3-gram shingle Jaccard ≥ 0.5 — order-sensitive near-dup
    (token-set Jaccard is order-blind; shingles catch reorderings).

    The candidate stage routes through the PPJoin prefix+length bounds
    (operators/dedup.ppjoin_pairs) — lossless, so the DuckDB oracle
    keeps its naive shared-shingle self-join form — instead of joining
    raw shingle posting lists: one boilerplate 3-gram present in 1% of
    a crawl would make the naive join O(k²) in that single key. Under
    the (df asc, shingle asc) prefix order the hot shingles sort LAST
    and never enter a prefix (tests/test_skew.py pins candidates = 0
    on a corpus where every doc shares a boilerplate sentence)."""
    from textcleaning_spark.operators.dedup import ppjoin_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ppjoin_pairs(_doc_shingle_sets(docs), "doc", "__sh", 0.5)


# ---------------------------------------------------------------------------
# 35. BPE-ish subtoken counting (training-data token accounting)
# ---------------------------------------------------------------------------
_SUBTOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@register(
    "subtoken_counts",
    f"""
    SELECT lang,
           sum(len(regexp_extract_all(text, '{_SUBTOKEN_RE}')))::BIGINT
               AS n_subtokens,
           sum({T.n_words_sql('text')})::BIGINT AS n_words,
           count(*)::BIGINT AS n_docs
    FROM documents
    GROUP BY lang
    """,
)
def subtoken_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting for training pipelines: BPE-ish regex subtokens
    (letter runs / digit runs / punctuation) vs whitespace words."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.sum(F.size(F.regexp_extract_all(F.col("text"), F.lit(_SUBTOKEN_RE), 0)))
        .cast("bigint")
        .alias("n_subtokens"),
        F.sum(T.n_words("text")).cast("bigint").alias("n_words"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# 36. Rolling-hash document fingerprints (order-sensitive, integer-exact)
# ---------------------------------------------------------------------------
_FP_MOD = 2_147_483_647  # 2^31 - 1
_FP_BASE = 131


@register(
    "doc_fingerprints",
    f"""
    SELECT doc_id,
           list_reduce(
               list_prepend(0::BIGINT, list_transform({_TOK},
                   t -> ('0x' || substring(md5(t), 1, 8))::BIGINT)),
               (acc, h) -> (acc * {_FP_BASE} + h) % {_FP_MOD}
           )::BIGINT AS fingerprint,
           len({_TOK})::BIGINT AS n_tokens
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash over the token sequence (mod 2^31-1) —
    an order-sensitive fingerprint; identical docs collide, any
    reordering does not. Pure integer math, engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")
    tok_hash = lambda t: F.conv(F.substring(F.md5(F.encode(t, "UTF-8")), 1, 8), 16, 10).cast("bigint")  # noqa: E731
    fp = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * _FP_BASE + tok_hash(t)) % _FP_MOD,
    )
    return docs.select(
        "doc_id",
        fp.cast("bigint").alias("fingerprint"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# 36b. Winnowing fingerprints (round 3): per-window argmin over 3-gram
#      hashes — the substring-robust local fingerprint (Schleimer et
#      al. SIGMOD 2003); any shared token run of >= k+w-1 = 6 tokens
#      shares a selected fingerprint.
# ---------------------------------------------------------------------------
@register(
    "winnow_fingerprints",
    f"""
    WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    g AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN
                 list_transform(range(1, len(toks) - 1),
                   i -> ('0x' || substring(md5(
                            array_to_string(list_slice(toks, i, i + 2), ' ')
                         ), 1, 8))::BIGINT)
               ELSE CAST([] AS BIGINT[]) END AS gh
        FROM t
    ),
    sel AS (
        SELECT doc_id, gh,
               list_distinct(CASE WHEN len(gh) >= 1 THEN
                 list_transform(
                   range(1, CASE WHEN len(gh) >= 4
                                THEN len(gh) - 2 ELSE 2 END),
                   i -> (i - 1 + list_position(
                          list_slice(gh, i, i + 3),
                          list_aggregate(list_slice(gh, i, i + 3), 'min')
                        ))::BIGINT)
               ELSE CAST([] AS BIGINT[]) END) AS pos
        FROM g
    )
    SELECT doc_id,
           unnest(pos)::BIGINT AS pos,
           unnest(list_transform(pos, p -> gh[p]))::BIGINT AS fp
    FROM sel
    """,
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (k=3 token grams, window w=4,
    leftmost-min tie-break) — see operators/dedup.winnow_fingerprints
    for the guarantee and the 100 TB shape (one codegen'd project, no
    shuffle; only (doc, pos, fp) triples ever move)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.winnow_fingerprints(docs, "doc_id", "text", k=3, w=4)


# ---------------------------------------------------------------------------
# 39. ntile deciles over document length
# ---------------------------------------------------------------------------
@register(
    "doc_length_deciles",
    """
    SELECT decile, count(*)::BIGINT AS n_docs,
           min(n_chars)::BIGINT AS min_chars, max(n_chars)::BIGINT AS max_chars
    FROM (
        SELECT n_chars,
               ntile(10) OVER (ORDER BY n_chars, doc_id)::BIGINT AS decile
        FROM documents
    )
    GROUP BY decile
    """,
)
def doc_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-decile profile (the length-bucketing signal used for skew
    partitioning, operators/skew.py). ntile needs a global sort — fine
    for a profile query; the pipeline's bucket column uses fixed bounds
    so no global shuffle at scale."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
    return (
        docs.select("n_chars", F.ntile(10).over(w).cast("bigint").alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


# ---------------------------------------------------------------------------
# 41. Substring-occurrence counts (F14: doc.count('nitinol'), test.py:36-41)
# ---------------------------------------------------------------------------
_KW = "table"


@register(
    "keyword_hits",
    f"""
    SELECT lang,
           sum((length(text) - length(replace(text, '{_KW}', '')))
               // {len(_KW)})::BIGINT AS n_hits,
           count(*) FILTER (length(text) <> length(replace(text, '{_KW}', '')))::BIGINT
               AS n_docs_with_kw,
           count(*)::BIGINT AS n_docs
    FROM documents
    GROUP BY lang
    """,
)
def keyword_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 substring counting via the length-difference identity —
    pure JVM string ops, no regex engine divergence."""
    docs = load_table(spark, sf_dir, "documents")
    diff = F.length("text") - F.length(F.replace(F.col("text"), F.lit(_KW)))
    return docs.groupBy("lang").agg(
        F.sum(F.floor(diff / len(_KW))).cast("bigint").alias("n_hits"),
        F.count_if(diff != 0).cast("bigint").alias("n_docs_with_kw"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# 42. Marker-word language-ID (SQL-expressible stand-in) confusion matrix
# ---------------------------------------------------------------------------
# The real langid kernel (functions/langid.py) is a char-trigram pandas
# UDF over the pages source; this query is the oracle-checkable argmax
# machinery (P2 routing generalized) on the shared-vocabulary documents
# table: score = marker-token hits, argmax with lang-ascending tie-break.
_LANG_MARKERS = {
    "de": ("batch", "window", "merge"),
    "en": ("the", "a", "value", "row"),
    "es": ("filter", "sort", "group"),
    "fr": ("query", "scan", "line"),
    "zh": ("vector", "hash", "stream"),
}


def _marker_hits_sql(markers: tuple[str, ...]) -> str:
    arr = ", ".join(f"'{m}'" for m in markers)
    return (
        f"len(list_intersect(list_distinct({_TOK}), [{arr}]))"
    )


@register(
    "langid_marker_confusion",
    f"""
    WITH scored AS (
        SELECT lang,
               {_marker_hits_sql(_LANG_MARKERS['de'])} AS h_de,
               {_marker_hits_sql(_LANG_MARKERS['en'])} AS h_en,
               {_marker_hits_sql(_LANG_MARKERS['es'])} AS h_es,
               {_marker_hits_sql(_LANG_MARKERS['fr'])} AS h_fr,
               {_marker_hits_sql(_LANG_MARKERS['zh'])} AS h_zh
        FROM documents
    ),
    pred AS (
        SELECT lang,
               CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
                    WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
                    WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
                    WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
                    WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
                    ELSE 'zh' END AS pred_lang,
               greatest(h_de, h_en, h_es, h_fr, h_zh)::BIGINT AS best_hits
        FROM scored
    )
    SELECT lang, pred_lang, count(*)::BIGINT AS n_docs,
           sum(best_hits)::BIGINT AS total_hits
    FROM pred GROUP BY lang, pred_lang
    """,
)
def langid_marker_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    distinct_toks = F.array_distinct(T.tokens("text"))
    hits = {
        lang: F.size(
            F.array_intersect(distinct_toks, F.array(*[F.lit(m) for m in ms]))
        )
        for lang, ms in _LANG_MARKERS.items()
    }
    best = F.greatest(*hits.values())
    pred = F.when(best == 0, F.lit("und"))
    for lang in sorted(_LANG_MARKERS):  # lang-ascending tie-break
        pred = pred.when(hits[lang] == best, F.lit(lang))
    scored = docs.select(
        "lang", pred.alias("pred_lang"), best.cast("bigint").alias("best_hits")
    )
    return scored.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("best_hits").cast("bigint").alias("total_hits"),
    )


# ---------------------------------------------------------------------------
# 43. Set operations: INTERSECT / EXCEPT over derived vocabularies (X1, X2)
# ---------------------------------------------------------------------------
@register(
    "vocab_setops",
    f"""
    WITH long_w AS (
        SELECT DISTINCT unnest({_TOK}) AS word FROM documents WHERE n_chars >= 400
    ),
    short_w AS (
        SELECT DISTINCT unnest({_TOK}) AS word FROM documents WHERE n_chars < 150
    )
    SELECT
        (SELECT count(*) FROM long_w)::BIGINT AS n_long,
        (SELECT count(*) FROM short_w)::BIGINT AS n_short,
        (SELECT count(*) FROM (SELECT word FROM long_w INTERSECT SELECT word FROM short_w))::BIGINT
            AS n_both,
        (SELECT count(*) FROM (SELECT word FROM long_w EXCEPT SELECT word FROM short_w))::BIGINT
            AS n_long_only,
        (SELECT count(*) FROM (SELECT word FROM short_w EXCEPT SELECT word FROM long_w))::BIGINT
            AS n_short_only
    """,
)
def vocab_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2: distinct-vocabulary INTERSECT / EXCEPT between length
    strata (reference analogue: set difference of POS tag sets,
    text_process_v5.py:168). Both vocabularies are tiny after
    aggregation, so the set ops run on already-reduced inputs."""
    docs = load_table(spark, sf_dir, "documents")
    word = F.explode(F.array_distinct(T.tokens("text"))).alias("word")
    long_w = docs.filter(F.col("n_chars") >= 400).select(word).distinct()
    short_w = docs.filter(F.col("n_chars") < 150).select(word).distinct()

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias(name))

    return (
        cnt(long_w, "n_long")
        .crossJoin(cnt(short_w, "n_short"))
        .crossJoin(cnt(long_w.intersect(short_w), "n_both"))
        .crossJoin(cnt(long_w.subtract(short_w), "n_long_only"))
        .crossJoin(cnt(short_w.subtract(long_w), "n_short_only"))
    )


# ---------------------------------------------------------------------------
# 47. Char-bigram perplexity, trained AND scored relationally
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
    # range(1, n) is empty — guard both upper bounds (ADVICE r01).
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
# 50. Deterministic hash sampling — reproducible corpus downsampling
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
    WHERE substr(md5(doc_id::VARCHAR || ':{_SAMPLE_SALT}'), 1, 8)
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
    member = (
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{_SAMPLE_SALT}"))),
            1,
            8,
        )
        < _SAMPLE_HEX_CUT
    )
    return (
        docs.filter(member)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("sampled_chars"),
        )
    )


# ---------------------------------------------------------------------------
# 51. Stratified curriculum selection — top quantile per language
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
# 52. Near-dup clustering: connected components over shingle pairs
# ---------------------------------------------------------------------------
_SHINGLE_PAIRS_SQL = f"""
    sh AS (
        SELECT doc_id AS doc,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len({_TOK}) - 1, 1)),
                   i -> array_to_string(list_slice({_TOK}, i, i + 2), ' ')
               ))) AS shingle
        FROM documents
    ),
    sizes AS (SELECT doc, count(*)::BIGINT AS sz FROM sh GROUP BY doc),
    common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, count(*)::BIGINT AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON sa.doc = doc_a
        JOIN sizes sb ON sb.doc = doc_b
        WHERE common::DOUBLE / (sa.sz + sb.sz - common) >= 0.5
    )
"""


@register(
    "near_dup_clusters",
    f"""
    WITH RECURSIVE {_SHINGLE_PAIRS_SQL},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, comp) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node
    ),
    comps AS (SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node)
    SELECT cluster_id::BIGINT AS cluster_id,
           count(*)::BIGINT AS n_docs,
           min(node)::BIGINT AS keeper,
           max(node)::BIGINT AS max_doc
    FROM comps
    GROUP BY cluster_id
    """,
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup GROUP assignment: shingle-Jaccard pairs → connected
    components (operators/dedup.connected_components, min-label
    propagation) → per-cluster size + canonical keeper (min doc_id).
    The oracle computes the same components with a DuckDB recursive
    CTE — transitive closure vs iterative propagation, same fixpoint."""
    from textcleaning_spark.operators.dedup import connected_components

    pairs = shingle_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    comps = connected_components(pairs, "doc_a", "doc_b")
    return comps.groupBy(F.col("comp").cast("bigint").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("node").cast("bigint").alias("keeper"),
        F.max("node").cast("bigint").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# 55. Incremental snapshot merge (upsert) — crawl re-ingest pattern
# ---------------------------------------------------------------------------
# A fresh crawl re-fetches some pages (updates), finds new ones
# (inserts), and misses others (carry-over). The merge is one FULL
# OUTER join on the key + coalesce — the relational core of
# MERGE INTO, format-independent (Iceberg/Delta run the same plan).
# Updates are simulated deterministically: every doc_id ≡ 0 (mod 7)
# arrives re-crawled with prefixed text; ids shifted by +1000000 for
# doc_id ≡ 1 (mod 13) simulate brand-new pages.


@register(
    "incremental_upsert",
    """
    WITH updates AS (
        SELECT doc_id, 'recrawl: ' || text AS text, lang
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text, lang
        FROM documents WHERE doc_id % 13 = 1
    ),
    merged AS (
        SELECT coalesce(u.doc_id, d.doc_id) AS doc_id,
               coalesce(u.text, d.text) AS text,
               coalesce(u.lang, d.lang) AS lang,
               CASE WHEN d.doc_id IS NULL THEN 'insert'
                    WHEN u.doc_id IS NULL THEN 'carry'
                    ELSE 'update' END AS action
        FROM documents d
        FULL OUTER JOIN updates u ON d.doc_id = u.doc_id
    )
    SELECT action,
           count(*)::BIGINT AS n_rows,
           sum(length(text))::BIGINT AS total_chars
    FROM merged
    GROUP BY action
    """,
)
def incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-shaped upsert: full outer join on the document key,
    coalesce per column, action label per row. At scale the join
    shuffles both sides on doc_id once; with a bucketed base table
    (operators/bucketing.py) the base side's exchange disappears."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    upd = d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.concat(F.lit("recrawl: "), F.col("text")).alias("text"), "lang"
    )
    ins = d.filter(F.col("doc_id") % 13 == 1).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang"
    )
    u = upd.unionByName(ins)
    du = d.alias("d").join(u.alias("u"), F.col("d.doc_id") == F.col("u.doc_id"), "full_outer")
    merged = du.select(
        F.coalesce(F.col("u.doc_id"), F.col("d.doc_id")).alias("doc_id"),
        F.coalesce(F.col("u.text"), F.col("d.text")).alias("text"),
        F.when(F.col("d.doc_id").isNull(), "insert")
        .when(F.col("u.doc_id").isNull(), "carry")
        .otherwise("update")
        .alias("action"),
    )
    return merged.groupBy("action").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# 55. Corpus-level boilerplate line removal (CCNet paragraph dedup)
# ---------------------------------------------------------------------------
_BOILER_W = 3  # pseudo-line width (tokens) over the single-line documents
_BOILER_MIN_DOCS = 3


@register(
    "boilerplate_line_scrub",
    f"""
    WITH tok AS (
        SELECT doc_id, {_TOK} AS toks FROM documents
    ),
    chunk AS (
        SELECT doc_id, i::BIGINT AS pos,
               array_to_string(
                   list_slice(toks, (i - 1) * {_BOILER_W} + 1, i * {_BOILER_W}), ' '
               ) AS line
        FROM tok,
             unnest(range(1, ((len(toks) + {_BOILER_W} - 1) // {_BOILER_W} + 1)::BIGINT)) AS t(i)
    ),
    dup AS (
        SELECT line FROM chunk
        GROUP BY line
        HAVING count(DISTINCT doc_id) >= {_BOILER_MIN_DOCS}
    ),
    flagged AS (
        SELECT c.doc_id, c.pos, c.line, (d.line IS NOT NULL) AS is_dup
        FROM chunk c LEFT JOIN dup d ON c.line = d.line
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_lines,
           sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_removed,
           md5(coalesce(
               string_agg(line, ' ' ORDER BY pos) FILTER (WHERE NOT is_dup), ''
           )) AS clean_hash
    FROM flagged
    GROUP BY doc_id
    """,
)
def boilerplate_line_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style CROSS-document dedup (operators/boilerplate.py): a
    line recurring on >= 3 distinct documents is boilerplate and is
    dropped from every document. The single-line synthetic documents
    are re-wrapped into deterministic 3-token pseudo-lines first (the
    corpus has no newlines; 3-token spans from its small vocabulary
    recur across docs, so the dedup is exercised for real — 231 dup
    lines, 362/500 docs touched at sf0.01).

    Counting groups on xxhash64(line) — the scale path, 8-byte shuffle
    keys — while the oracle groups on the string; hash-vs-string parity
    is additionally diff-asserted in tests/test_boilerplate.py.

    Complements the WITHIN-document dup-line keep rule
    (reference text_process_v5.py dup-fraction; plans/pipeline.py)."""
    from textcleaning_spark.operators.boilerplate import corpus_line_dedup

    w = _BOILER_W
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", T.tokens("text").alias("__toks"))
    toks = F.col("__toks")
    # (size + w - 1) div w pseudo-lines; sequence() guarded (step
    # defaults to -1 when upper < 1 — the CLAUDE.md invariant)
    n_chunks = F.floor((F.size(toks) + F.lit(w - 1)) / F.lit(w)).cast("int")
    chunks = F.when(
        n_chunks >= 1,
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.concat_ws(" ", F.slice(toks, (i - F.lit(1)) * w + 1, F.lit(w))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    lines = toked.select("doc_id", F.posexplode(chunks).alias("pos", "line"))
    deduped = corpus_line_dedup(
        lines, min_docs=_BOILER_MIN_DOCS, joiner=" ", count_on_hash=True
    )
    return deduped.select(
        "doc_id",
        "n_lines",
        "n_removed",
        F.md5(F.encode(F.col("clean_text"), "UTF-8")).alias("clean_hash"),
    )


# ---------------------------------------------------------------------------
# 56. Per-rule hit metrics (north_rule: "rule-hit metrics" audit table)
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
# 58. Span contamination (dedup-spans shape, Lee et al. 2022)
# ---------------------------------------------------------------------------
_SPAN_W = 8


def _doc_word_spans(docs: DataFrame, w: int) -> DataFrame:
    """(doc_id, span) rows of sliding word w-grams — shared by
    span_contamination and benchmark_decontam. The guard keeps
    sequence(1, n) from emitting descending indices when n < 1
    (its step defaults to -1; ADVICE r01)."""
    toked = docs.select("doc_id", T.tokens("text").alias("__toks"))
    toks = F.col("__toks")
    spans = F.when(
        F.size(toks) >= w,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (w - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(w))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toked.select("doc_id", F.explode(spans).alias("span"))


@register(
    "span_contamination",
    f"""
    WITH tok AS (
        SELECT doc_id, {_TOK} AS toks FROM documents
    ),
    sp AS (
        SELECT doc_id,
               array_to_string(list_slice(toks, i, i + {_SPAN_W - 1}), ' ') AS span
        FROM tok,
             unnest(range(1, greatest(len(toks) - {_SPAN_W} + 2, 1)::BIGINT)) AS t(i)
    ),
    shared AS (
        SELECT span FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT sp.doc_id,
           count(*)::BIGINT AS n_spans,
           sum(CASE WHEN sh.span IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_shared,
           round(sum(CASE WHEN sh.span IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS contamination
    FROM sp LEFT JOIN shared sh ON sp.span = sh.span
    GROUP BY sp.doc_id
    """,
)
def span_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicating-training-data shape (Lee et al. 2022, 'Deduplicating
    Training Data Makes Language Models Better'): per document, the
    fraction of its sliding word 8-gram spans that also occur in at
    least one OTHER document — the signal used to cut verbatim
    cross-document contamination before training. Differs from the
    pairwise shingle/Jaccard family: output is per-document exposure,
    not pairs, so it stays O(corpus) rows.

    Scale shape: one shuffle of (doc, span) to find shared spans, one
    back-join, one per-doc aggregate. The shared-span table grows with
    the corpus (NOT force-broadcast; AQE decides). At 100 TB the span
    key would be xxhash64(span) — 8-byte shuffle keys — with the same
    plan; the oracle pins the string form for exact parity here."""
    docs = load_table(spark, sf_dir, "documents")
    sp = _doc_word_spans(docs, _SPAN_W)
    shared = (
        sp.groupBy("span")
        .agg(F.count_distinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("span", F.lit(1).alias("__shared"))
    )
    return (
        sp.join(shared, "span", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(F.coalesce(F.col("__shared"), F.lit(0))).cast("bigint").alias("n_shared"),
            F.round(
                F.sum(F.coalesce(F.col("__shared"), F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("contamination"),
        )
    )


# ---------------------------------------------------------------------------
# 61. Sequence packing (concat-and-chunk) — training-batch assembly
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
# 62. Dedup keep verdict — the per-document output a dedup pipeline ships
# ---------------------------------------------------------------------------
@register(
    "dedup_keep_verdict",
    f"""
    WITH RECURSIVE {_SHINGLE_PAIRS_SQL},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, comp) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node
    ),
    comps AS (SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id::BIGINT AS doc_id,
           coalesce(c.cluster_id, d.doc_id)::BIGINT AS cluster_id,
           (coalesce(c.cluster_id, d.doc_id) = d.doc_id) AS keep
    FROM documents d
    LEFT JOIN comps c ON c.node = d.doc_id
    """,
)
def dedup_keep_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document dedup verdict — the row-level output a dedup stage
    actually emits downstream (near_dup_clusters reports the same
    components as per-cluster summaries). Every document maps to its
    cluster's canonical keeper (min doc_id; singletons are their own
    cluster) and keeps iff it IS the keeper. At 100 TB the components
    frame is tiny relative to the corpus (only docs that appear in a
    near-dup pair), so the back-join broadcasts; the corpus itself is
    never re-shuffled."""
    from textcleaning_spark.operators.dedup import connected_components

    pairs = shingle_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    comps = connected_components(pairs, "doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    joined = docs.join(comps, docs.doc_id == comps.node, "left")
    cluster = F.coalesce(F.col("comp"), F.col("doc_id"))
    return joined.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        cluster.cast("bigint").alias("cluster_id"),
        (cluster == F.col("doc_id")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# 62b. Incremental crawl dedup (new snapshot vs seen corpus, R-S PPJoin)
# ---------------------------------------------------------------------------
@register(
    "incremental_crawl_dedup",
    f"""
    WITH sh AS (
        SELECT doc_id AS doc,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len({_TOK}) - 1, 1)),
                   i -> array_to_string(list_slice({_TOK}, i, i + 2), ' ')
               ))) AS shingle
        FROM documents
    ),
    sizes AS (SELECT doc, count(*)::BIGINT AS sz FROM sh GROUP BY doc),
    cross_common AS (
        SELECT n.doc AS doc_n, o.doc AS doc_o, count(*)::BIGINT AS common
        FROM sh n JOIN sh o ON n.shingle = o.shingle
        WHERE n.doc % 2 = 1 AND o.doc % 2 = 0
        GROUP BY 1, 2
    ),
    near AS (
        SELECT DISTINCT doc_n
        FROM cross_common
        JOIN sizes sn ON sn.doc = doc_n
        JOIN sizes so ON so.doc = doc_o
        WHERE common::DOUBLE / (sn.sz + so.sz - common) >= 0.5
    ),
    old_hashes AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
    )
    SELECT d.doc_id::BIGINT AS doc_id,
           (oh.h IS NOT NULL) AS exact_dup,
           (nr.doc_n IS NOT NULL) AS near_dup,
           (oh.h IS NULL AND nr.doc_n IS NULL) AS keep
    FROM documents d
    LEFT JOIN old_hashes oh ON md5(d.text) = oh.h
    LEFT JOIN near nr ON nr.doc_n = d.doc_id
    WHERE d.doc_id % 2 = 1
    """,
)
def incremental_crawl_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-snapshot dedup against the ALREADY-SEEN corpus — what a
    recurring crawl ingest actually runs: each new document is dropped
    if it exactly matches (content hash) or nearly matches (3-gram
    shingle Jaccard ≥ 0.5) ANY corpus document; the corpus is never
    re-paired with itself. Even/odd doc_id stands in for the
    corpus/snapshot split so the oracle sees the same deterministic
    partition.

    Scale shape: the exact leg joins on md5 computed scan-side (the
    text never shuffles); the near leg routes through the R-S PPJoin
    (operators/dedup.ppjoin_pairs_rs) — prefix(new) ⋈ prefix(corpus)
    under one global (df asc) element order, so hot boilerplate
    shingles never generate candidates and the join is new×matching,
    not corpus×corpus. Both flag frames carry only ids/hashes, so the
    back-joins onto the snapshot are id-sized.

    Reference analogue: the reference's per-document set() membership
    (text_process.py A5) generalized to cross-snapshot identity."""
    from textcleaning_spark.operators.dedup import ppjoin_pairs_rs, text_hash

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    old_hashes = (
        old.select(text_hash(F.col("text")).alias("h"))
        .distinct()
        .withColumn("__exact", F.lit(1))
    )
    new_hashed = new.select("doc_id", text_hash(F.col("text")).alias("h"))

    near_ids = (
        ppjoin_pairs_rs(
            _doc_shingle_sets(new), _doc_shingle_sets(old), "doc", "__sh", 0.5
        )
        .select(F.col("doc_l").alias("doc_id"))
        .distinct()
        .withColumn("__near", F.lit(1))
    )

    flagged = (
        new_hashed.join(old_hashes, "h", "left")
        .join(near_ids, "doc_id", "left")
    )
    exact_dup = F.col("__exact").isNotNull()
    near_dup = F.col("__near").isNotNull()
    return flagged.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        exact_dup.alias("exact_dup"),
        near_dup.alias("near_dup"),
        (~exact_dup & ~near_dup).alias("keep"),
    )


# ---------------------------------------------------------------------------
# 63. Temperature-weighted language sampling (XLM-R / mT5 data mix)
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


# ---------------------------------------------------------------------------
# 64. URL canonicalization dedup (Common-Crawl recrawl collapse)
# ---------------------------------------------------------------------------
# Raw-url synthesis: the driver's documents table has no url column, so
# both engines derive the SAME deterministic surface variants from
# (doc_id, source, lang) — scheme/www/case/tracking-param/trailing-slash/
# fragment noise around a shared path key (doc_id % 50). The operator
# under test is functions/urls.py canonical_url (differential-tested in
# tests/test_urls.py; the keep-latest operator twin is
# operators/dedup.url_dedup over real pages frames).
_RAW_URL_SQL = """
    CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'http://' END
    || CASE WHEN doc_id % 7 = 0 THEN upper(source) ELSE source END
    || '.Example.COM/articles/' || (doc_id % 50)::VARCHAR
    || CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&ref=' || lang
            WHEN doc_id % 3 = 1 THEN '/' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN '#sec-' || doc_id::VARCHAR ELSE '' END
"""


def _raw_url_col():
    from pyspark.sql import functions as F

    scheme = F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://WWW.")).otherwise(
        F.lit("http://")
    )
    host = F.when(F.col("doc_id") % 7 == 0, F.upper(F.col("source"))).otherwise(
        F.col("source")
    )
    path = F.concat(
        F.lit(".Example.COM/articles/"), (F.col("doc_id") % 50).cast("string")
    )
    suffix = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("/?utm_source=feed&ref="), F.col("lang")),
        )
        .when(F.col("doc_id") % 3 == 1, F.lit("/"))
        .otherwise(F.lit(""))
    )
    frag = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit("#sec-"), F.col("doc_id").cast("string")),
    ).otherwise(F.lit(""))
    return F.concat(scheme, host, path, suffix, frag)


@register(
    "url_canonical_dedup",
    f"""
    WITH raw AS (
        SELECT doc_id, {_RAW_URL_SQL} AS raw_url FROM documents
    ),
    canon AS (
        SELECT doc_id, raw_url,
               {_urls.canonical_url_sql('raw_url')} AS canonical_url
        FROM raw
    )
    SELECT canonical_url,
           count(*)::BIGINT AS n_docs,
           count(DISTINCT raw_url)::BIGINT AS n_raw_forms,
           min(doc_id)::BIGINT AS keeper_doc_id
    FROM canon
    GROUP BY canonical_url
    """,
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup summary: recrawl surface variants (scheme, www,
    host case, utm/fbclid/gclid params, fragments, trailing slashes)
    collapse onto one canonical url; the keeper is the min doc_id (the
    pages-frame twin, operators/dedup.url_dedup, keeps max warc_ts).
    At 100 TB canonicalization runs scan-side (native regexp chain, no
    Python) and the single shuffle keys on the canonical string — url
    dedup happens BEFORE any content hash or shingle is computed, so
    the expensive text operators see each page once."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    canon = docs.select(
        "doc_id",
        _raw_url_col().alias("raw_url"),
    ).withColumn("canonical_url", _urls.canonical_url("raw_url"))
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("raw_url").cast("bigint").alias("n_raw_forms"),
        F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
    )


# ---------------------------------------------------------------------------
# 65. Token-count histogram (training-budget planning)
# ---------------------------------------------------------------------------
@register(
    "token_count_histogram",
    f"""
    WITH t AS (
        SELECT {T.n_words_sql('text')} AS n FROM documents
    ),
    b AS (
        SELECT (length(bin(n)) - 1)::INT AS bucket,
               count(*)::BIGINT AS n_docs,
               sum(n)::BIGINT AS n_tokens
        FROM t WHERE n >= 1 GROUP BY 1
    )
    SELECT bucket::BIGINT AS bucket,
           (1::BIGINT << bucket)::BIGINT AS bucket_min_tokens,
           n_docs,
           n_tokens,
           sum(n_tokens) OVER (ORDER BY bucket)::BIGINT AS cum_tokens,
           round(sum(n_tokens) OVER (ORDER BY bucket)::DOUBLE
                 / (sum(n_tokens) OVER ())::DOUBLE, 6) AS cum_token_frac
    FROM b
    """,
)
def token_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-count histogram with cumulative token mass —
    the report a training pipeline reads to size sequence packing and
    length-bucketed partitions (operators/skew.py uses the same bucket
    key). floor(log2 n) is computed EXACTLY in both engines as
    length(bin(n))-1 (integer bit-length; float log2 at bucket
    boundaries is not portable). One explode-free scan + a tiny
    per-bucket agg; the cumulative window runs over ≤64 rows."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(T.n_words("text").alias("n")).filter(F.col("n") >= 1)
    b = (
        t.select((F.length(F.bin("n")) - 1).cast("int").alias("bucket"), "n")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_tokens"),
        )
    )
    w_cum = Window.orderBy("bucket")
    w_all = Window.partitionBy()
    cum = F.sum("n_tokens").over(w_cum)
    tot = F.sum("n_tokens").over(w_all)
    return b.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.expr("CAST(shiftleft(CAST(1 AS BIGINT), bucket) AS BIGINT)").alias(
            "bucket_min_tokens"
        ),
        "n_docs",
        "n_tokens",
        cum.cast("bigint").alias("cum_tokens"),
        F.round(cum.cast("double") / tot.cast("double"), 6).alias("cum_token_frac"),
    )


# ---------------------------------------------------------------------------
# 70. Perplexity tertile routing (CCNet head/middle/tail split)
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
    return t.groupBy("lang", bucket.alias("bucket")).agg(
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
# 70b. CCNet cutoff routing — the 100-TB path of ppl_tertile_routing
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

    Rows-only in the driver gate by design: approx_percentile's GK
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
    return routed.groupBy("lang", bucket.alias("bucket")).agg(
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
# 71. Benchmark decontamination (GPT-3 appendix-C / Llama shape):
#     training docs sharing a word n-gram with a held-out eval set.
# ---------------------------------------------------------------------------
@register(
    "benchmark_decontam",
    f"""
    WITH tok AS (
        SELECT doc_id, {{tok}} AS toks FROM documents
    ),
    sp AS (
        SELECT doc_id,
               array_to_string(list_slice(toks, i, i + {_SPAN_W - 1}), ' ') AS span
        FROM tok,
             unnest(range(1, greatest(len(toks) - {_SPAN_W} + 2, 1)::BIGINT)) AS t(i)
    ),
    ev AS (
        SELECT DISTINCT span FROM sp WHERE doc_id % 7 = 0
    )
    SELECT sp.doc_id,
           count(*)::BIGINT AS n_spans,
           sum(CASE WHEN ev.span IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_eval_hits,
           round(sum(CASE WHEN ev.span IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS overlap
    FROM sp LEFT JOIN ev ON sp.span = ev.span
    WHERE sp.doc_id % 7 <> 0
    GROUP BY sp.doc_id
    HAVING sum(CASE WHEN ev.span IS NOT NULL THEN 1 ELSE 0 END) > 0
    """.format(tok=_TOK),
)
def benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (GPT-3 appendix C, Llama 2): flag
    training documents that share any word 8-gram with a held-out
    benchmark — those docs inflate eval scores and must be dropped or
    masked before training. The eval set here is the deterministic
    doc_id % 7 == 0 slice (stand-in for MMLU/GSM8K etc.; the modulus is
    sized so the sf0.01 corpus has real hits — 9 contaminated docs); differs
    from span_contamination, which measures corpus-INTERNAL overlap.

    Scale shape: a real benchmark is fixed-size (thousands of docs)
    while the corpus is 100 TB, so the distinct eval-span table
    broadcasts — but the hint is NOT forced: join strategy is left to
    size statistics + AQE (measured: picks BroadcastHashJoin here), so
    an eval slice that ever grew corpus-sized degrades to a shuffle
    join instead of OOMing every executor (the round-1/round-2
    forced-broadcast lesson). With the broadcast, training spans are
    checked map-side with ZERO shuffle of training data; the only wide
    op is the per-doc aggregate, which map-side-combines to one row
    per doc. Output is bounded by contaminated docs only (HAVING >
    0)."""
    docs = load_table(spark, sf_dir, "documents")
    sp = _doc_word_spans(docs, _SPAN_W)
    is_eval = F.col("doc_id") % 7 == 0
    ev = (
        sp.filter(is_eval)
        .select("span")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    hit = F.coalesce(F.col("__hit"), F.lit(0))
    return (
        sp.filter(~is_eval)
        .join(ev, "span", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(hit).cast("bigint").alias("n_eval_hits"),
            F.round(F.sum(hit).cast("double") / F.count(F.lit(1)), 6).alias(
                "overlap"
            ),
        )
        .filter(F.col("n_eval_hits") > 0)
    )


# ---------------------------------------------------------------------------
# 73. Host-level keep profile (C4 badlist / RefinedWeb blocklist shape)
# ---------------------------------------------------------------------------
@register(
    "host_keep_profile",
    f"""
    WITH raw AS (
        SELECT doc_id,
               {_RAW_URL_SQL} AS raw_url,
               {T.keep_expr_sql('text')} AS keep
        FROM documents
    )
    SELECT {_urls.host_sql(_urls.canonical_url_sql('raw_url'))} AS host,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_keep,
           round(sum(CASE WHEN keep THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS keep_rate
    FROM raw
    GROUP BY 1
    """,
)
def host_keep_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host keep rate — the report that feeds a domain blocklist
    (C4 maintains a host badlist; RefinedWeb filters whole domains
    before any per-document rule runs). Hosts with a pathological keep
    rate get blocked at the SOURCE level, so 100 TB of their pages are
    never scanned again. Reuses the synthesized raw urls (the documents
    table carries no url column) and the one-spec rule verdict.

    Scale shape: canonicalize + host-extract are scan-side native
    regexps fused into the scoring project (zero extra passes); the
    single shuffle keys on host with map-side partial counts, so a
    mega-host (half the crawl is one CDN domain) contributes one
    partial row per input partition, never a hot reduce task."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    scored = q.score_documents(docs, "text", _QCFG)
    hosted = scored.withColumn("raw_url", _raw_url_col()).withColumn(
        "host", _urls.host(_urls.canonical_url("raw_url"))
    )
    keep_i = F.when(F.col("keep"), 1).otherwise(0)
    return hosted.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(keep_i).cast("bigint").alias("n_keep"),
        F.round(F.sum(keep_i).cast("double") / F.count(F.lit(1)), 6).alias(
            "keep_rate"
        ),
    )


# ---------------------------------------------------------------------------
# 74. Vocabulary growth curve (Heaps' law report)
# ---------------------------------------------------------------------------
@register(
    "vocab_growth_curve",
    f"""
    WITH tok AS (
        SELECT doc_id, {_TOK} AS toks FROM documents
    ),
    sp AS (
        SELECT doc_id,
               array_to_string(list_slice(toks, i, i + 1), ' ') AS gram
        FROM tok,
             unnest(range(1, greatest(len(toks), 1)::BIGINT)) AS t(i)
    ),
    n AS (SELECT max(doc_id) + 1 AS n_docs FROM documents),
    firsts AS (
        SELECT gram, min(doc_id) AS first_doc FROM sp GROUP BY gram
    ),
    b AS (
        SELECT least((first_doc * 10) // n.n_docs, 9)::INT AS bucket,
               count(*)::BIGINT AS new_bigrams
        FROM firsts CROSS JOIN n
        GROUP BY 1
    )
    SELECT bucket::BIGINT AS bucket,
           new_bigrams,
           sum(new_bigrams) OVER (ORDER BY bucket)::BIGINT AS vocab_size
    FROM b
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth over corpus prefixes (Heaps' law): new
    distinct word bigrams and cumulative vocabulary per corpus decile
    — how a pipeline decides when vocabulary statistics have converged
    (the reference tracked exactly this between runs: 16,545 distinct
    words run 1 → 2,943 post-distribution, sna_analysis.py:162-168).
    Bigrams, not unigrams: the synthetic word vocabulary saturates in
    the first decile, so the unigram curve is one flat row; the bigram
    space keeps growing the way a real crawl's vocabulary does.

    The naive form — count(DISTINCT) over a growing prefix window — is
    quadratic and needs per-row distinct state; this form is linear:
    a gram's contribution to the curve is exactly its FIRST occurrence
    (min doc_id per gram, one shuffle), then a ≤10-row bucket agg +
    running sum. The 1-row corpus-size scalar broadcasts; bucket ids
    use integer division so both engines agree exactly."""
    docs = load_table(spark, sf_dir, "documents")
    sp = _doc_word_spans(docs, 2).withColumnRenamed("span", "gram")
    n = docs.agg((F.max("doc_id") + 1).alias("n_docs"))
    firsts = sp.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    b = (
        firsts.crossJoin(F.broadcast(n))
        .select(
            F.least(
                F.expr("div(first_doc * 10, n_docs)"), F.lit(9)
            ).cast("int").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_bigrams"))
    )
    w = Window.orderBy("bucket")
    return b.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "new_bigrams",
        F.sum("new_bigrams").over(w).cast("bigint").alias("vocab_size"),
    )


# ---------------------------------------------------------------------------
# 66. DSIR importance-resampling selection (Xie et al. 2023)
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
# 68. Pipeline funnel report (stage-by-stage doc/token retention)
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


_LSH_AUDIT_SALT = "lshaudit"
_LSH_AUDIT_HEX_CUT = "33333333"  # ~20% deterministic audit sample


# ---------------------------------------------------------------------------
# 69. MinHash-LSH recall audit — closes the loop on the near-dup scale
#     path, FULLY oracle-checked: both sides of the recall fraction are
#     md5 arithmetic DuckDB can replay exactly.
# ---------------------------------------------------------------------------
@register(
    "minhash_lsh_recall",
    f"""
    WITH sampled AS (
        SELECT doc_id, text FROM documents
        WHERE substr(md5(doc_id::VARCHAR || ':{_LSH_AUDIT_SALT}'), 1, 8)
              < '{_LSH_AUDIT_HEX_CUT}'
    ),
    tok AS (
        SELECT doc_id AS doc, unnest(list_distinct({_TOK})) AS word
        FROM sampled
    ),
    sizes AS (SELECT doc, count(*)::BIGINT AS sz FROM tok GROUP BY doc),
    common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, count(*)::BIGINT AS common
        FROM tok a JOIN tok b ON a.word = b.word AND a.doc < b.doc
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT doc_a, doc_b FROM common
        JOIN sizes sa ON sa.doc = doc_a
        JOIN sizes sb ON sb.doc = doc_b
        WHERE common::DOUBLE / (sa.sz + sb.sz - common) >= {_JACCARD_T}
    ),
    sigs AS (
        SELECT doc_id, {', '.join(dd.minhash_signature_sql('text', 8))}
        FROM sampled
    ),
    banded AS (
        SELECT doc_id, b.band_id,
               CASE b.band_id
                   WHEN 0 THEN md5(sig_0 || '|' || sig_1)
                   WHEN 1 THEN md5(sig_2 || '|' || sig_3)
                   WHEN 2 THEN md5(sig_4 || '|' || sig_5)
                   ELSE md5(sig_6 || '|' || sig_7)
               END AS band_hash
        FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS band_id) b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
    ),
    hits AS (
        SELECT t.doc_a FROM truth t
        JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT * FROM (
        SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
               (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
               (SELECT count(*) FROM hits)::BIGINT AS n_hits,
               round((SELECT count(*) FROM hits)::DOUBLE
                     / (SELECT count(*) FROM truth), 6) AS recall
    ) WHERE n_hits * 10 >= n_truth * 9
    """,
)
def minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible MinHash-LSH quality gate: recall of the banded
    candidate generator (`lsh_candidate_pairs`, the linear-shuffle
    scale path) against the exact Jaccard truth set
    (`near_dup_jaccard`, PPJoin-bounded) at the same threshold.

    With k=8 signatures in 4 bands of 2 rows, a pair at Jaccard s
    collides with probability 1-(1-s^2)^4 — 0.99996 at the 0.96
    threshold, so recall should sit at ~1.0; the in-query gate
    (n_hits*10 >= n_truth*9, exact integer arithmetic — CLAUDE.md
    unrounded-verdict rule) makes the single report row VANISH if
    banding ever degrades below 0.9, which the driver records as a
    row-count drop even before the value hash. The gate is fully
    oracle-checked: signatures and band hashes are md5 expressions
    both engines evaluate identically.

    n_candidates context: the synthetic corpus is template-dense
    (median pair Jaccard ~0.6 at sf0.01), so most candidate pairs are
    GENUINELY similar — banding is doing its job; widening bands
    (r rows/band: collision p = 1-(1-s^r)^b) is the knob when the
    audit shows candidates dominated by sub-threshold pairs.

    Scale shape: the audit runs on a DETERMINISTIC ~20% md5 sample
    (same predicate both engines, pushed to the scan) — an exact-
    recall audit needs the exact pair set, whose cost grows with the
    square of corpus density, so production audits a fixed slice and
    lets the fraction be the cost knob (measured: full-corpus audit
    36 s vs ~4 s sampled at sf0.1 on this template-dense corpus).
    Within the sample: truth pairs come from the PPJoin prefix+length
    bounds (subquadratic under hot tokens), candidates shuffle on
    (band_id, band_hash) — O(docs × bands); the semi-join joins two
    already-tiny pair frames, and the final row is a cross of three
    scalar aggregates. Nothing in the plan holds an unbounded key.
    Reference analogue: the reference validates its similarity join
    by eyeballing known-duplicate rows (text_process.py:329-340);
    this is that check promoted to a measured, gated recall number.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit(f":{_LSH_AUDIT_SALT}")
                )
            ),
            1,
            8,
        )
        < _LSH_AUDIT_HEX_CUT
    )
    # ONE corpus scan: the distinct-token sets feed both the exact
    # (PPJoin) truth side and the MinHash signature side; both pair
    # frames are tiny, so checkpointing them keeps each chain — and
    # the scan — from re-running per consumer (truth and cand are
    # each read twice: their scalar count and the hits semi-join).
    sets = docs.select(
        F.col("doc_id").alias("doc"),
        F.array_distinct(T.tokens("text")).alias("toks"),
    ).localCheckpoint(eager=False)
    truth = (
        dd.ppjoin_pairs(sets, "doc", "toks", _JACCARD_T)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    sigs = dd.minhash_signature_sets(sets, "doc", "toks", _MINHASH_K)
    cand = dd.lsh_candidate_pairs(sigs, "doc", k=_MINHASH_K, bands=4).localCheckpoint(
        eager=False
    )
    hits = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
        .crossJoin(
            cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
        )
        .crossJoin(hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_hits")))
        .select(
            "n_truth",
            "n_candidates",
            "n_hits",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_truth"), 6
            ).alias("recall"),
        )
        .filter(F.col("n_hits") * 10 >= F.col("n_truth") * 9)
    )


# ---------------------------------------------------------------------------
# 70. Quality-signal drift (PSI per source) — the monitoring report a
#     crawl-over-crawl pipeline runs to catch a source whose quality
#     profile shifted before the shifted data reaches training.
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
# 71. NB classifier calibration (reliability table) — does the distilled
#     quality score MEAN anything, or only its sign? Confusion matrices
#     (queries 8c/8d) grade the sign; this grades the magnitude.
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
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    labeled = (
        q.score_documents(docs, "text", _QCFG)
        .select("doc_id", "text", "keep")
        .localCheckpoint(eager=False)
    )
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
# 72. HLL cardinality audit — the 100 TB scale path for vocabulary
#     counting, gated in-query against the exact count.
# ---------------------------------------------------------------------------
@register("vocab_hll_audit")  # rows-only: HLL++ register layout is engine-
# specific, so DuckDB cannot replay the estimate; the gate is in-query.
def vocab_hll_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vs HyperLogLog++ distinct word-bigram count, one row,
    FILTERED to relative error ≤ 5% (integer arithmetic on the exact
    side of the inequality). At 100 TB the exact count is the thing
    you CANNOT afford — count(DISTINCT gram) shuffles every distinct
    gram once — while approx_count_distinct(rsd=0.01) carries a
    fixed few-KB sketch per partition and merges in the driver-side
    final agg: no gram ever shuffles. This audit runs both on the
    same scan at test scale and publishes the estimator's actual
    error, so the pipeline can quote a measured bound when it swaps
    in the sketch at scale; a Spark upgrade that shifted the HLL
    estimate outside 5% would make the row vanish (driver rows-only
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
# 73. Rule ablation — per-rule removal rates, total AND sole-cause: the
#     table C4/Gopher publish when tuning thresholds (how much does each
#     rule remove, and how much would relaxing ONLY it win back).
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
# 74. Span novelty over corpus position — per-decile fraction of 8-gram
#     span occurrences already seen earlier in the corpus: the "how much
#     of each new slice is really new" curve an incremental ingest reads
#     (span-granular complement of incremental_crawl_dedup).
# ---------------------------------------------------------------------------
@register(
    "span_novelty",
    f"""
    WITH tok AS (
        SELECT doc_id, {_TOK} AS toks FROM documents
    ),
    sp AS (
        SELECT doc_id,
               array_to_string(list_slice(toks, i, i + {_SPAN_W - 1}), ' ') AS span
        FROM tok,
             unnest(range(1, greatest(len(toks) - {_SPAN_W} + 2, 1)::BIGINT)) AS t(i)
    ),
    firsts AS (
        SELECT span, min(doc_id) AS first_doc FROM sp GROUP BY span
    ),
    n AS (SELECT max(doc_id) + 1 AS n_docs FROM documents),
    perdoc AS (
        SELECT sp.doc_id,
               count(*)::BIGINT AS n_spans,
               sum(CASE WHEN f.first_doc < sp.doc_id THEN 1 ELSE 0 END)::BIGINT
                   AS n_seen
        FROM sp JOIN firsts f ON sp.span = f.span
        GROUP BY sp.doc_id
    )
    SELECT least((doc_id * 10) // n.n_docs, 9)::BIGINT AS decile,
           count(*)::BIGINT AS n_docs,
           sum(n_spans)::BIGINT AS n_spans,
           sum(n_seen)::BIGINT AS n_seen,
           round(1.0 - sum(n_seen)::DOUBLE / sum(n_spans), 6) AS novelty_frac
    FROM perdoc CROSS JOIN n
    GROUP BY 1
    """,
)
def span_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty curve: for each corpus decile (doc_id order standing in
    for crawl order), the fraction of its word 8-gram span occurrences
    NOT seen in any earlier document. A healthy fresh crawl holds a
    high plateau; a re-crawl-heavy snapshot shows the curve collapsing
    — the signal that pays for turning on aggressive dedup before
    training. Lee et al. 2022's most-common-duplication framing turned
    into a per-slice report (span_contamination is the symmetric
    per-document exposure; this one is ORDER-aware).

    Scale shape: like vocab_growth_curve, seen-ness is linear, not
    quadratic — a span's first occurrence (min doc_id, one span-keyed
    shuffle with map-side partials) decides every later occurrence via
    one back-join on the same span key; the per-doc regroup collapses
    to ≤10 decile rows. At 100 TB the span key becomes xxhash64 —
    8-byte shuffle keys — with the identical plan (the oracle pins the
    string form). No force-broadcast anywhere: firsts grows with the
    corpus, AQE decides the join strategy."""
    docs = load_table(spark, sf_dir, "documents")
    sp = _doc_word_spans(docs, _SPAN_W)
    firsts = sp.groupBy("span").agg(F.min("doc_id").alias("first_doc"))
    n = docs.agg((F.max("doc_id") + 1).alias("n_docs"))
    perdoc = (
        sp.join(firsts, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(
                F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_seen"),
        )
    )
    return (
        perdoc.crossJoin(F.broadcast(n))
        .groupBy(
            F.least(F.expr("div(doc_id * 10, n_docs)"), F.lit(9))
            .cast("bigint")
            .alias("decile")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_spans").cast("bigint").alias("n_spans"),
            F.sum("n_seen").cast("bigint").alias("n_seen"),
            F.round(
                F.lit(1.0)
                - F.sum("n_seen").cast("double") / F.sum("n_spans").cast("double"),
                6,
            ).alias("novelty_frac"),
        )
    )


# ---------------------------------------------------------------------------
# 75. Host link graph + PageRank — crawl-reputation prior. The parquet
#     corpus carries no hyperlinks, so the graph is derived from the
#     documents table by the same deterministic md5 recipe in BOTH
#     engines (the REAL extraction path — href parsing over raw html —
#     is exercised end-to-end on the pages source in tests/test_links.py;
#     operators/linkgraph.py is shared by both).
# ---------------------------------------------------------------------------
_LG_FANOUT = 3  # outlinks per linking doc
# docs whose src label starts with 'f' emit no outlinks, so the 'h f*'
# hosts are deterministic DANGLING nodes (in-links only) — the graph
# exercises the dangling-mass redistribution path, not just the happy one
_LG_EDGES_SQL = f"""
    links AS (
        SELECT 'h' || substr(md5(doc_id::VARCHAR || ':s'), 1, 2) AS src_host,
               'h' || substr(md5(doc_id::VARCHAR || ':d' || j::VARCHAR), 1, 2)
                   AS dst_host
        FROM documents,
             (SELECT unnest([{", ".join(str(j) for j in range(1, _LG_FANOUT + 1))}])
                     AS j)
        WHERE substr(md5(doc_id::VARCHAR || ':s'), 1, 1) <> 'f'
    ),
    edges AS (
        SELECT src_host, dst_host, count(*)::BIGINT AS weight
        FROM links WHERE src_host <> dst_host GROUP BY 1, 2
    )
"""


def _lg_edges(docs: DataFrame) -> DataFrame:
    """Spark twin of ``_LG_EDGES_SQL``: deterministic md5-derived
    host→host edge list over the documents table."""
    did = F.col("doc_id").cast("string")
    src_md5 = F.md5(F.concat(did, F.lit(":s")))
    ex = (
        docs.filter(F.substring(src_md5, 1, 1) != "f")
        .select(
            F.concat(F.lit("h"), F.substring(src_md5, 1, 2)).alias("src_host"),
            F.col("doc_id"),
            F.explode(
                F.array(*[F.lit(j) for j in range(1, _LG_FANOUT + 1)])
            ).alias("j"),
        )
        .select(
            "src_host",
            F.concat(
                F.lit("h"),
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":d"),
                            F.col("j").cast("string"),
                        )
                    ),
                    1,
                    2,
                ),
            ).alias("dst_host"),
        )
        .filter(F.col("src_host") != F.col("dst_host"))
    )
    return ex.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).cast("bigint").alias("weight")
    )


@register(
    "host_link_graph",
    f"""
    WITH {_LG_EDGES_SQL}
    SELECT src_host, dst_host, weight
    FROM edges
    ORDER BY src_host, dst_host
    """,
)
def host_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted host→host link-graph edge list — the table every crawl
    scheduler and host-reputation filter starts from (Common Crawl
    publishes exactly this at host/domain granularity).

    Reference analogue: the 2-mode edge/node graph tables the reference
    builds relationally for Gephi export (edge list
    text_process.py:341, node list text_process.py:350) — here the
    entities are hosts and the co-occurrence is a hyperlink.

    Scale shape: the production builder (operators/linkgraph.host_edges
    over raw html — tests/test_links.py runs it end-to-end) extracts
    and host-resolves scan-side, so only (src_host, dst_host) pairs
    reach the single count shuffle, with map-side partials bounding hub
    keys; the html bytes never move. This registry entry derives the
    same edge shape deterministically from doc_id (the parquet corpus
    has no html column), so the DuckDB oracle can replay it exactly."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return _lg_edges(docs).orderBy("src_host", "dst_host")


def _lg_pr_iter_sql(prev: str, it: int) -> str:
    """One unrolled nano-unit PageRank iteration (DuckDB CTE pair).

    Every divide is FLOOR over an IEEE-double quotient of exact
    integers and every SUM is over BIGINT — order-independent, so it
    matches the Spark loop bit-for-bit (operators/linkgraph.pagerank
    docstring has the recurrence; CAST(0.85 AS DOUBLE) keeps DuckDB's
    DECIMAL literals out of the float math)."""
    return f"""
    c{it} AS (
        SELECT e.dst_host AS host,
               sum(CAST(FLOOR(CAST(r.rn * e.weight AS DOUBLE) / o.ow)
                   AS BIGINT))::BIGINT AS cn
        FROM edges e
        JOIN {prev} r ON r.host = e.src_host
        JOIN outw o ON o.src_host = e.src_host
        GROUP BY 1
    ),
    d{it} AS (
        SELECT CAST(FLOOR(CAST(coalesce(sum(r.rn), 0) AS DOUBLE)
                    / (SELECT n FROM nn)) AS BIGINT) AS ds
        FROM {prev} r
        WHERE NOT EXISTS (SELECT 1 FROM outw o WHERE o.src_host = r.host)
    ),
    r{it} AS (
        SELECT nodes.host,
               CAST(FLOOR(150000000.0::DOUBLE / (SELECT n FROM nn)) AS BIGINT)
               + CAST(FLOOR(CAST(0.85 AS DOUBLE)
                            * CAST(coalesce(c.cn, 0) + (SELECT ds FROM d{it})
                                   AS DOUBLE)) AS BIGINT) AS rn
        FROM nodes LEFT JOIN c{it} c ON c.host = nodes.host
    )"""


@register(
    "host_pagerank",
    f"""
    WITH {_LG_EDGES_SQL},
    nodes AS (
        SELECT src_host AS host FROM edges
        UNION
        SELECT dst_host FROM edges
    ),
    nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
    outw AS (
        SELECT src_host, sum(weight)::BIGINT AS ow FROM edges GROUP BY 1
    ),
    r0 AS (
        SELECT host,
               CAST(FLOOR(1000000000.0::DOUBLE / (SELECT n FROM nn)) AS BIGINT)
                   AS rn
        FROM nodes
    ),
    {_lg_pr_iter_sql("r0", 1)},
    {_lg_pr_iter_sql("r1", 2)},
    {_lg_pr_iter_sql("r2", 3)}
    SELECT host, rn AS rank_nano,
           CAST(rn AS DOUBLE) / 1000000000.0::DOUBLE AS pagerank
    FROM r3
    ORDER BY rank_nano DESC, host
    """,
)
def host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration weighted PageRank (damping 0.85, uniform dangling
    redistribution) over the host link graph — the host-reputation
    prior real crawls feed into selection (Common Crawl's host-level
    webgraph ranks; a host nothing links to is the classic spam tell).

    The oracle unrolls the identical integer nano-unit recurrence, so
    the match is exact to the last bit — the determinism story that
    makes a reputation score auditable (same trick as
    quality_drift_psi's snapped PSI terms).

    Scale shape (operators/linkgraph.pagerank): per iteration, ONE
    shuffle of per-edge contributions keyed on dst (a true aggregate —
    map-side partials bound mega-hub hosts) plus host-sized rank/node
    frames; the edge list is localCheckpoint'ed once and per-round
    checkpoints keep the plan constant-size, the same discipline as
    connected_components. Iteration count is the knob: reputation
    ranks run 3-10 rounds, not to convergence."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pr = lg.pagerank(_lg_edges(docs), iters=3, damping=0.85)
    return pr.select(
        "host", "rank_nano", F.col("rank").alias("pagerank")
    ).orderBy(F.desc("rank_nano"), "host")


# ---------------------------------------------------------------------------
# 76. Tokenizer fertility + script-mixing profiles — the per-language
#     capacity/cleanliness reports a pretraining mixture review reads.
# ---------------------------------------------------------------------------
@register(
    "tokenizer_fertility",
    f"""
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           sum({T.n_words_sql("text")})::BIGINT AS n_tokens,
           sum(length(text))::BIGINT AS n_chars,
           sum(strlen(text))::BIGINT AS n_bytes,
           round(sum(strlen(text))::DOUBLE
                 / sum({T.n_words_sql("text")})::DOUBLE, 6)
               AS bytes_per_token,
           round(sum(length(text))::DOUBLE
                 / sum({T.n_words_sql("text")})::DOUBLE, 6)
               AS chars_per_token
    FROM documents
    GROUP BY lang
    """,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bytes/chars per whitespace token, by language — tokenizer
    fertility, the number a mixture planner checks before setting
    per-language token budgets (a byte-hungry script at fixed token
    count means fewer documents per budget; multi-byte CJK shows ~3×
    the bytes/char of Latin). Reference analogue: the per-office
    document-length stats the reference prints per routing branch
    (text_process.py:53-61 split + the length counts in
    sna_analysis.py:162-168).

    Scale shape: pure per-row native arithmetic folded into the scan
    projection, ONE shuffle on lang (≤ dozens of keys, map-side
    partials make hot languages safe), output is languages-sized.
    All sums are BIGINT (exact); ratios divide the same two integers
    in both engines."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    nw = T.n_words("text")
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(nw).cast("bigint").alias("n_tokens"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
        F.sum(F.octet_length("text")).cast("bigint").alias("n_bytes"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_bytes",
        F.round(
            F.col("n_bytes").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("bytes_per_token"),
        F.round(
            F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("chars_per_token"),
    )


# Unicode script classes as LITERAL codepoint ranges — the same pattern
# text works under Java regex and RE2 (named script classes don't:
# Java spells them \p{IsHangul}, RE2 \p{Hangul}). Hangul Syllables
# block + CJK Unified Ideographs + basic Latin letters — exactly the
# classes functions/langid.py votes on.
_SCRIPT_RANGES: tuple[tuple[str, str], ...] = (
    ("hangul", "[가-힣]"),
    ("han", "[一-鿿]"),
    ("latin", "[A-Za-z]"),
)


@register(
    "script_mix_profile",
    f"""
    WITH per_doc AS (
        SELECT lang,
               {", ".join(
                   f"length(text) - length(regexp_replace(text, '{pat}', '', 'g'))"
                   f" AS {name}"
                   for name, pat in _SCRIPT_RANGES
               )}
        FROM documents
    )
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           sum(hangul)::BIGINT AS hangul_chars,
           sum(han)::BIGINT AS han_chars,
           sum(latin)::BIGINT AS latin_chars,
           sum(CASE WHEN (hangul > 0)::INT + (han > 0)::INT
                         + (latin > 0)::INT >= 2
                    THEN 1 ELSE 0 END)::BIGINT AS n_mixed_script
    FROM per_doc
    GROUP BY lang
    """,
)
def script_mix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Unicode-script census + mixed-script document count
    — script mixing inside one document is a classic spam/SEO-chaff
    tell (keyword-stuffed pages splice scripts), and the per-script
    char budget is what a CJK-aware tokenizer review starts from.
    Batch twin of the script vote inside functions/langid.py (the
    ja/ko/zh precedence stage); reference analogue: the KIPO/JPO vs
    USPTO office routing it mirrors (text_process.py:53-59).

    Scale shape: three codegen'd regexp passes per row folded into the
    scan projection (no Python), ONE shuffle on lang with map-side
    partials; output is languages-sized. All-integer output — exact
    cross-engine by construction."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    per = docs.select(
        "lang",
        *[
            (
                F.length("text")
                - F.length(F.regexp_replace(F.col("text"), pat, ""))
            ).alias(name)
            for name, pat in _SCRIPT_RANGES
        ],
    )
    n_scripts = sum(
        F.when(F.col(name) > 0, 1).otherwise(0) for name, _ in _SCRIPT_RANGES
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("hangul").cast("bigint").alias("hangul_chars"),
        F.sum("han").cast("bigint").alias("han_chars"),
        F.sum("latin").cast("bigint").alias("latin_chars"),
        F.sum(F.when(n_scripts >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_mixed_script"),
    )


# ---------------------------------------------------------------------------
# 77. Harmonic centrality: exact truncated twin (oracle-backed) + the
#     HyperBall sketch with an in-query accuracy gate — the second
#     host-reputation rank crawls publish next to PageRank (Common
#     Crawl ships harmonic centrality, computed with HyperBall).
# ---------------------------------------------------------------------------
_HC_RADIUS = 3


@register(
    "host_harmonic_exact",
    f"""
    WITH {_LG_EDGES_SQL},
    nodes AS (
        SELECT src_host AS host FROM edges
        UNION
        SELECT dst_host FROM edges
    ),
    r1 AS (
        SELECT DISTINCT src_host AS u, dst_host AS v
        FROM edges WHERE src_host <> dst_host
    ),
    r2 AS (
        SELECT DISTINCT a.u, e.dst_host AS v
        FROM r1 a JOIN edges e ON e.src_host = a.v
        WHERE a.u <> e.dst_host
          AND NOT EXISTS (SELECT 1 FROM r1 s
                          WHERE s.u = a.u AND s.v = e.dst_host)
    ),
    r3 AS (
        SELECT DISTINCT a.u, e.dst_host AS v
        FROM r2 a JOIN edges e ON e.src_host = a.v
        WHERE a.u <> e.dst_host
          AND NOT EXISTS (SELECT 1 FROM r1 s
                          WHERE s.u = a.u AND s.v = e.dst_host)
          AND NOT EXISTS (SELECT 1 FROM r2 s
                          WHERE s.u = a.u AND s.v = e.dst_host)
    ),
    pairs AS (
        SELECT u, v, 1::BIGINT AS dist FROM r1
        UNION ALL SELECT u, v, 2::BIGINT FROM r2
        UNION ALL SELECT u, v, 3::BIGINT FROM r3
    ),
    per_v AS (
        SELECT v AS host, count(*)::BIGINT AS n_reaching,
               sum(CAST(FLOOR(1000000000.0::DOUBLE / dist) AS BIGINT))::BIGINT
                   AS harmonic_nano
        FROM pairs GROUP BY 1
    )
    SELECT n.host,
           coalesce(p.n_reaching, 0)::BIGINT AS n_reaching,
           coalesce(p.harmonic_nano, 0)::BIGINT AS harmonic_nano,
           CAST(coalesce(p.harmonic_nano, 0) AS DOUBLE)
               / 1000000000.0::DOUBLE AS harmonic
    FROM nodes n LEFT JOIN per_v p ON p.host = n.host
    ORDER BY harmonic_nano DESC, n.host
    """,
)
def host_harmonic_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact harmonic centrality H(v) = Σ 1/d(u,v), truncated at
    radius 3, over the derived host graph — the truth twin the
    HyperBall audit gates against. 1/d terms snap to integer
    nano-units before summing (order-independent, oracle-exact).

    Scale shape (operators/centrality.truncated_harmonic): the
    distinct (u, v, min-dist) pair frame is O(hosts²) at full
    connectivity — affordable at audit scale, exactly what a 10⁸-host
    graph CANNOT materialize; the sketch twin below is the scale
    path. Frontier rounds keep the frame minimal (each round anti-
    joins the already-reached set, so a pair shuffles once, at its
    min distance)."""
    from textcleaning_spark.operators import centrality as ct

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = ct.truncated_harmonic(_lg_edges(docs), radius=_HC_RADIUS)
    return out.orderBy(F.desc("harmonic_nano"), "host")


@register("hyperball_centrality_audit")  # rows-only: register placement is
# Spark's xxhash64 — no SQL oracle can replay it; the gate is in-query
# against the oracle-checked exact twin (minhash_lsh_recall pattern)
def hyperball_centrality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall harmonic centrality (Boldi & Vigna 2013) vs the exact
    truncated twin on a DETERMINISTIC md5 HOST SAMPLE (5/16 of hosts),
    GATED in-query: rows exist only while ≥ 90% of reachable sampled
    hosts estimate within 30% relative error (measured here: median
    ~6%, p90 ~14% with m=64 registers), so a sketch regression makes
    the driver's rows-only count collapse.

    Sampling (the minhash_lsh_recall pattern, VERDICT r4 item 4): the
    truth side runs operators/centrality.truncated_harmonic_targets —
    a reversed-edge BFS seeded only at the sampled hosts, an
    O(|sample| × hosts) frame instead of the full O(hosts²) pair
    space, and differential-tested equal to the full exact twin
    restricted to the sample (tests/test_centrality.py). The
    oracle-checked full twin (host_harmonic_exact) is unchanged.

    Scale shape (operators/centrality.hyperball_harmonic): per round
    ONE edges⋈registers join (≤ E×m rows, 10-byte (node, idx) keys)
    and ONE max-aggregate with map-side partials — no arrays, no
    Python, no O(hosts²) pair frame anywhere in this audit now."""
    from textcleaning_spark.operators import centrality as ct

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
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
    exact = ct.truncated_harmonic_targets(edges, sample, radius=_HC_RADIUS)
    sketch = ct.hyperball_harmonic(edges, radius=_HC_RADIUS)
    joined = (
        exact.join(sketch, "host")
        .select(
            "host",
            "harmonic",
            F.round("harmonic_est", 6).alias("harmonic_est"),
            F.when(
                F.col("harmonic") > 0,
                F.round(
                    F.abs(F.col("harmonic_est") - F.col("harmonic"))
                    / F.col("harmonic"),
                    6,
                ),
            ).alias("rel_error"),
        )
        .localCheckpoint(eager=False)
    )
    acc = joined.filter(F.col("rel_error").isNotNull()).agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum(
            F.when(F.col("rel_error") <= 0.30, 1).otherwise(0)
        ).alias("n_within"),
    )
    return (
        joined.crossJoin(acc)
        .filter(F.col("n_within") * 10 >= F.col("n_pos") * 9)
        .select("host", "harmonic", "harmonic_est", "rel_error")
        .orderBy(F.desc("harmonic"), "host")
    )


# ---------------------------------------------------------------------------
# 78. BPE subword tokenizer: corpus-trained merge table + fertility —
#     the vocabulary-planning loop of a pretraining data pipeline
#     (Sennrich et al. 2016; operators/bpe.py has the scale story).
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
    vanish and the driver's rows-only count catches it.

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
# 79. Count-Min heavy-hitters audit — the third sketch family (HLL
#     cardinality, HyperBall centrality, CMS frequency): estimate any
#     word's frequency from a fixed d×w table instead of the full
#     vocabulary (Cormode & Muthukrishnan 2005).
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
# 80. Bloom-prefiltered decontamination — benchmark_decontam's scale
#     variant: eval-span membership pushed to the training scan as
#     pure bit arithmetic, the exact join sees only bloom survivors.
#     Bloom filters have NO false negatives, so the result is row-
#     identical to the exact query and shares its oracle shape.
# ---------------------------------------------------------------------------
_BLOOM_K = 5  # hash functions; fpp ≈ (1 - e^{-kn/m})^k
_BLOOM_BITS_PER_ELEM = 32  # auto-size: with k=5, fpp ≈ (0.144)^5 ≈ 6e-5
_BLOOM_MIN_BITS = 1 << 14


def _bloom_bits(n_elems: int) -> int:
    """Bitmap size for ``n_elems`` members: 32 bits/element rounded up
    to a power of two — an eval set that grows 10× keeps its fpp
    instead of silently saturating the filter."""
    bits = _BLOOM_MIN_BITS
    while bits < _BLOOM_BITS_PER_ELEM * n_elems:
        bits <<= 1
    return bits


def _bloom_positions(span_col, bits: int, k: int = _BLOOM_K):
    """k bit positions per span: xxhash64(span, salt_i) mod m — native,
    seed-fixed, deterministic across runs and engines' partitions."""
    return [
        F.pmod(F.xxhash64(span_col, F.lit(i)), F.lit(bits)) for i in range(k)
    ]


def _bloom_bitmap_lit(signed_words: list[int]):
    """The bitmap as ONE plan literal. Neither obvious spelling works:
    ``F.array(*lits)`` is a CreateArray with |bitmap| children that
    codegen re-materializes PER ROW (measured 52 s at sf0.1), and
    ``F.lit(list)`` builds |bitmap| Column objects through py4j
    (measured ~13 s of driver time). ``from_json`` of one string
    literal costs one py4j call and is constant-folded by Catalyst
    into a single array Literal before execution (~1 s total)."""
    import json

    return F.from_json(F.lit(json.dumps(signed_words)), "array<bigint>")


def _bloom_might_contain(span_col, bitmap_col, bits: int):
    test = F.lit(True)
    for pos in _bloom_positions(span_col, bits):
        # call_function: the python shiftleft/shiftright wrappers only
        # take literal ints, the SQL functions take any expression
        word = F.element_at(
            bitmap_col,
            F.call_function("shiftright", pos, F.lit(6)).cast("int") + 1,
        )
        bit = F.call_function(
            "shiftleft",
            F.lit(1).cast("long"),
            F.pmod(pos, F.lit(64)).cast("int"),
        )
        test = test & (word.bitwiseAND(bit) != 0)
    return test


@register(
    "decontam_bloom_prefilter",
    f"""
    WITH tok AS (
        SELECT doc_id, {_TOK} AS toks FROM documents
    ),
    sp AS (
        SELECT doc_id,
               array_to_string(list_slice(toks, i, i + {_SPAN_W - 1}), ' ') AS span
        FROM tok,
             unnest(range(1, greatest(len(toks) - {_SPAN_W} + 2, 1)::BIGINT)) AS t(i)
    ),
    ev AS (
        SELECT DISTINCT span FROM sp WHERE doc_id % 7 = 0
    ),
    train AS (SELECT doc_id, span FROM sp WHERE doc_id % 7 <> 0),
    base AS (
        SELECT doc_id, count(*)::BIGINT AS n_spans FROM train GROUP BY 1
    ),
    hits AS (
        SELECT doc_id, count(*)::BIGINT AS n_eval_hits
        FROM train WHERE EXISTS (SELECT 1 FROM ev WHERE ev.span = train.span)
        GROUP BY 1
    )
    SELECT base.doc_id, base.n_spans, hits.n_eval_hits,
           round(hits.n_eval_hits::DOUBLE / base.n_spans, 6) AS overlap
    FROM base JOIN hits ON hits.doc_id = base.doc_id
    """,
)
def decontam_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """benchmark_decontam with the membership test a 100 TB job runs
    FIRST: the distinct eval spans are folded into a 16-kbit Bloom
    bitmap (built distributively — k×|eval| bit positions are the only
    thing collected), the bitmap rides the plan as a 256-long literal,
    and every training span is tested scan-side with 5 xxhash64+bit
    ops BEFORE any join. Only bloom survivors (true hits + ~fpp of
    the corpus) reach the exact semi-join that removes false
    positives; no false negatives exist, so the output is row-
    identical to the exact query — which is exactly what the shared
    oracle checks.

    Why it matters at scale: the exact query's broadcast hash relation
    holds every eval span STRING; the bloom is ~10× smaller and the
    test is branch-free bit math inside whole-stage codegen, so the
    join machinery (hashing, probing, null handling) runs on ~0.01%
    of the training spans instead of all of them. Spark's own runtime
    row-level filtering applies the same pattern to shuffle joins;
    here it is explicit and auditable. Honest bench-scale accounting:
    at sf0.1 this runs ~3 s vs the exact query's ~1 s — the bitmap
    build (eval distinct + position collect) is a FIXED cost that
    only amortizes when the training side dwarfs it; the win arrives
    when eval span sets reach the size where a string hash relation
    stops broadcasting cheaply."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE span materialization feeds the eval side, the bitmap build
    # and the training side (un-checkpointed, the tokenize+explode
    # pass re-runs for each of the four consumers)
    sp = _doc_word_spans(docs, _SPAN_W).localCheckpoint(eager=False)
    is_eval = F.col("doc_id") % 7 == 0
    ev = sp.filter(is_eval).select("span").distinct().localCheckpoint(eager=False)
    bits = _bloom_bits(ev.count())
    # distributed bitmap build: k positions per span, distinct, tiny
    pos = (
        ev.select(
            F.explode(F.array(*_bloom_positions(F.col("span"), bits))).alias("p")
        )
        .distinct()
        .toPandas()["p"]
    )
    words = [0] * (bits // 64)
    for p in pos:
        p = int(p)
        words[p >> 6] |= 1 << (p & 63)
    signed = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    bitmap = _bloom_bitmap_lit(signed)

    train = sp.filter(~is_eval).localCheckpoint(eager=False)
    base = train.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans")
    )
    survivors = train.withColumn("__bm", bitmap).filter(
        _bloom_might_contain(F.col("span"), F.col("__bm"), bits)
    )
    hits = (
        survivors.join(ev, "span", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_eval_hits"))
    )
    return base.join(hits, "doc_id").select(
        "doc_id",
        "n_spans",
        "n_eval_hits",
        F.round(
            F.col("n_eval_hits").cast("double") / F.col("n_spans"), 6
        ).alias("overlap"),
    )


# ---------------------------------------------------------------------------
# 81. Token-budget allocation (water-filling under per-source caps) —
#     the step AFTER temperature weights: a small language's q-share
#     can exceed what it has; the classic water-filling closed form
#     allocates t_l = min(a_l, λ·w_l) with Σ t_l = T, all integer.
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
        # see token_budget_allocation's docstring / ADVICE r4)
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


# ---------------------------------------------------------------------------
# 82. Robots-noindex politeness profile — the crawl-compliance filter
#     (functions/links.meta_noindex) driver-checked end to end. The
#     parquet corpus carries no html column, so pages are synthesized
#     from the documents table by the same deterministic md5 recipe in
#     BOTH engines (the host_link_graph pattern); the regex that runs
#     is the REAL production pattern, over html that embeds the full
#     document text (so body bytes are scanned exactly as in the
#     pages pipeline, where drop_noindex runs upstream of extraction).
# ---------------------------------------------------------------------------
from textcleaning_spark.functions import links as _links

# md5(doc_id || ':nx') first nibble → robots meta variant: both
# attribute orders of the noindex directive (4/16 name-first, 2/16
# content-first), an explicit index,follow control (1/16 — must NOT
# match), and no robots meta at all (9/16).
_NX_META_NAME_FIRST = '<meta name="robots" content="noindex,nofollow">'
_NX_META_CONTENT_FIRST = '<meta content="all noindex" name="robots">'
_NX_META_INDEX = '<meta name="robots" content="index,follow">'


@register(
    "noindex_politeness_filter",
    f"""
    WITH pages AS (
        SELECT lang,
               '<html><head>'
               || CASE WHEN substr(md5(doc_id::VARCHAR || ':nx'), 1, 1)
                           IN ('0', '1', '2', '3')
                       THEN '{_NX_META_NAME_FIRST}'
                       WHEN substr(md5(doc_id::VARCHAR || ':nx'), 1, 1)
                           IN ('4', '5')
                       THEN '{_NX_META_CONTENT_FIRST}'
                       WHEN substr(md5(doc_id::VARCHAR || ':nx'), 1, 1) = '6'
                       THEN '{_NX_META_INDEX}'
                       ELSE '' END
               || '</head><body><p>' || text || '</p></body></html>' AS html
        FROM documents
    ),
    flagged AS (
        SELECT lang,
               (regexp_matches(html, '{_links._NOINDEX_RES[0]}')
                OR regexp_matches(html, '{_links._NOINDEX_RES[1]}'))
                   AS noindex
        FROM pages
    )
    SELECT lang,
           count(*)::BIGINT AS n_pages,
           sum(CASE WHEN noindex THEN 1 ELSE 0 END)::BIGINT AS n_noindex,
           (count(*) - sum(CASE WHEN noindex THEN 1 ELSE 0 END))::BIGINT
               AS n_kept,
           round(sum(CASE WHEN noindex THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS noindex_rate
    FROM flagged
    GROUP BY lang
    """,
)
def noindex_politeness_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language robots-noindex rate — the politeness pre-filter's
    report (functions/links.drop_noindex runs the same predicate
    upstream of extraction in the pages pipeline). Pages asking to
    stay out of indexes are dropped BEFORE any quality scoring spends
    cycles on them; a per-language rate drift is the first sign a
    crawl snapshot changed its meta-tag conventions.

    Synthesized html embeds the FULL document text in the body, so the
    production regex (both attribute orders, Java rlike ≡ DuckDB RE2
    for every construct used — literal tag text, `\\s`, `[^>]*`
    classes) scans realistic page bytes; the md5-nibble variant mix
    plants name-first (4/16), content-first (2/16), explicit
    index,follow (1/16, a must-NOT-match control) and bare heads.

    Scale shape: decode + two rlike passes fuse into the scan project
    (zero extra passes, no Python); the single shuffle carries only
    (lang, bool) with map-side partial counts. At 100 TB the html
    bytes never move — exactly the drop_noindex plan, plus one count.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    nib = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":nx"))), 1, 1
    )
    meta = (
        F.when(nib.isin("0", "1", "2", "3"), F.lit(_NX_META_NAME_FIRST))
        .when(nib.isin("4", "5"), F.lit(_NX_META_CONTENT_FIRST))
        .when(nib == "6", F.lit(_NX_META_INDEX))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html><head>"),
        meta,
        F.lit("</head><body><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    flagged = docs.select(
        "lang",
        _links.meta_noindex(F.encode(html, "UTF-8")).alias("noindex"),
    )
    ni = F.when(F.col("noindex"), 1).otherwise(0)
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pages"),
        F.sum(ni).cast("bigint").alias("n_noindex"),
        (F.count(F.lit(1)) - F.sum(ni)).cast("bigint").alias("n_kept"),
        F.round(F.sum(ni).cast("double") / F.count(F.lit(1)), 6).alias(
            "noindex_rate"
        ),
    )


# ---------------------------------------------------------------------------
# 83. robots.txt longest-prefix-match politeness (RFC 9309) — the OTHER
#     half of crawl compliance next to the meta-noindex filter: per-host
#     allow/disallow path rules where the MOST SPECIFIC (longest)
#     matching rule wins and allow beats disallow on ties. The parquet
#     corpus carries no robots.txt bodies, so hosts and their rule
#     tables are derived from doc_id by the deterministic md5 recipe
#     (the host_link_graph pattern) — the longest-match join machinery
#     that runs is the REAL operator shape.
# ---------------------------------------------------------------------------
@register(
    "robots_longest_match",
    """
    WITH pages AS (
        SELECT doc_id, lang,
               'h' || substr(md5(doc_id::VARCHAR || ':rh'), 1, 2) AS host,
               '/p/' || doc_id::VARCHAR AS path
        FROM documents
    ),
    hosts AS (SELECT DISTINCT host FROM pages),
    hd AS (
        SELECT host,
               (ascii(substr(md5(host || ':r1'), 1, 1)) % 10)::VARCHAR AS d1,
               (ascii(substr(md5(host || ':r2'), 1, 1)) % 10)::VARCHAR AS d2,
               ascii(substr(md5(host || ':r3'), 1, 1)) % 2 = 0 AS has_allow,
               ascii(substr(md5(host || ':r4'), 1, 1)) % 16 = 0 AS blanket
        FROM hosts
    ),
    rules AS (
        SELECT host, '/p/' || d1 AS prefix, FALSE AS allow FROM hd
        UNION ALL
        SELECT host, '/p/' || d1 || d2 AS prefix, TRUE AS allow
        FROM hd WHERE has_allow
        UNION ALL
        SELECT host, '/p/' AS prefix, FALSE AS allow FROM hd WHERE blanket
    ),
    matched AS (
        SELECT p.doc_id, p.lang, r.allow,
               row_number() OVER (
                   PARTITION BY p.doc_id
                   ORDER BY length(r.prefix) DESC, r.allow DESC
               ) AS rk
        FROM pages p
        JOIN rules r ON r.host = p.host AND starts_with(p.path, r.prefix)
    ),
    decided AS (
        SELECT p.lang, coalesce(m.allow, TRUE) AS allowed
        FROM pages p
        LEFT JOIN (SELECT doc_id, allow FROM matched WHERE rk = 1) m
               ON m.doc_id = p.doc_id
    )
    SELECT lang,
           count(*)::BIGINT AS n_pages,
           sum(CASE WHEN allowed THEN 0 ELSE 1 END)::BIGINT AS n_blocked,
           sum(CASE WHEN allowed THEN 1 ELSE 0 END)::BIGINT AS n_allowed,
           round(sum(CASE WHEN allowed THEN 0 ELSE 1 END)::DOUBLE
                 / count(*), 6) AS block_rate
    FROM decided
    GROUP BY lang
    """,
)
def robots_longest_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language crawl-block rate under RFC 9309 robots.txt
    longest-prefix-match semantics: each host carries a small rule
    table (a blanket ``Disallow: /p/`` on ~1/16 of hosts, a one-digit
    ``Disallow: /p/<d1>`` everywhere, and on half the hosts a more
    specific two-digit ``Allow: /p/<d1><d2>`` carve-out); a page is
    fetchable iff the LONGEST rule whose prefix matches its path says
    allow (allow wins length ties; no match ⇒ allowed). The carve-out
    exercises the part naive "any disallow matches ⇒ drop" filters get
    wrong.

    Scale shape: the rules side is tiny relative to pages (real
    robots tables are ~one row-group per crawl snapshot even at 10^12
    pages), so Spark broadcasts it; the decision is then a per-row
    higher-order fold over that host's ≤3-element rule array — array
    filter by prefix match, array_max over (length, allow) structs —
    all JVM-side, no explode, no per-rule row amplification, and the
    single real shuffle carries only (lang, bool) with map-side
    partials. The DuckDB oracle deliberately keeps the naive
    row-amplified rules-join + row_number form, so hash-equality
    cross-checks two independent formulations of the same semantics.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    did = F.col("doc_id").cast("string")
    pages = docs.select(
        "lang",
        F.concat(
            F.lit("h"), F.substring(F.md5(F.concat(did, F.lit(":rh"))), 1, 2)
        ).alias("host"),
        F.concat(F.lit("/p/"), did).alias("path"),
    )

    def _nib(salt: str) -> Column:
        return F.ascii(
            F.substring(F.md5(F.concat(F.col("host"), F.lit(salt))), 1, 1)
        )

    d1 = (_nib(":r1") % 10).cast("string")
    d2 = (_nib(":r2") % 10).cast("string")
    has_allow = _nib(":r3") % 2 == 0
    blanket = _nib(":r4") % 16 == 0

    def _rule(prefix: Column, allow: bool) -> Column:
        return F.struct(prefix.alias("prefix"), F.lit(allow).alias("allow"))

    rules = (
        pages.select("host")
        .distinct()
        .select(
            "host",
            F.filter(
                F.array(
                    _rule(F.concat(F.lit("/p/"), d1), False),
                    F.when(
                        has_allow, _rule(F.concat(F.lit("/p/"), d1, d2), True)
                    ),
                    F.when(blanket, _rule(F.lit("/p/"), False)),
                ),
                lambda r: r.isNotNull(),
            ).alias("rules"),
        )
    )
    joined = pages.join(F.broadcast(rules), "host")
    best = F.array_max(
        F.transform(
            F.filter(
                F.col("rules"),
                lambda r: F.col("path").startswith(r["prefix"]),
            ),
            lambda r: F.struct(
                F.length(r["prefix"]).alias("l"), r["allow"].alias("a")
            ),
        )
    )
    decided = joined.withColumn("best", best).select(
        "lang",
        F.when(F.col("best").isNull(), F.lit(True))
        .otherwise(F.col("best")["a"])
        .alias("allowed"),
    )
    blk = F.when(F.col("allowed"), 0).otherwise(1)
    return decided.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pages"),
        F.sum(blk).cast("bigint").alias("n_blocked"),
        (F.count(F.lit(1)) - F.sum(blk)).cast("bigint").alias("n_allowed"),
        F.round(F.sum(blk).cast("double") / F.count(F.lit(1)), 6).alias(
            "block_rate"
        ),
    )


# ---------------------------------------------------------------------------
# 84. Luhn-validated credit-card PII audit — checksum-gated detection
#     (ISO/IEC 7812), the way production PII scrubbers separate card
#     numbers from arbitrary 13-19-digit runs. The corpus text carries
#     no digits, so card-like runs are planted deterministically from
#     doc_id in BOTH engines: ~1/8 of docs get a 16-digit md5-derived
#     run (Luhn-valid only by 1-in-10 chance), ~1/8 get the canonical
#     test PAN 4111111111111111 (always valid) — so the report has
#     deterministic nonzero counts in BOTH the flagged and the
#     rejected-candidate columns.
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
               ascii(substr(md5(doc_id::VARCHAR || ':cc'), 1, 1)) % 8 AS sel,
               md5(doc_id::VARCHAR || ':cn') AS cn
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
    did = F.col("doc_id").cast("string")
    staged = docs.select(
        "lang",
        "text",
        (F.ascii(F.substring(F.md5(F.concat(did, F.lit(":cc"))), 1, 1)) % 8).alias(
            "sel"
        ),
        F.md5(F.concat(did, F.lit(":cn"))).alias("cn"),
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
