"""Text-statistics family: the reference's corpus analytics as single
plans — token, idf and vocabulary statistics, POS and stem rollups,
co-occurrence, routing, length and script profiles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from textcleaning_spark.config import STOP_WORDS as _SW
from textcleaning_spark.config import CorpusStatsConfig, stop_pos
from textcleaning_spark.functions import stemmer, tagger
from textcleaning_spark.functions import text as T
from textcleaning_spark.operators import cooccurrence as co
from textcleaning_spark.operators import corpus_stats as cs
from textcleaning_spark.operators import windows as win
from textcleaning_spark.queries import register
from textcleaning_spark.queries.common import _TOK, _doc_word_spans, _doc_word_spans_sql
from textcleaning_spark.sources.registry import load_table

_DOC_TOKENS_CTE = f"""
tok AS (
    SELECT doc_id, unnest({_TOK}) AS word FROM documents
)
"""

# tok plus (word, idf): the DuckDB side of tf_df_idf(...).select("word",
# "idf"), which the Spark side of every idf entry reuses
_IDF_STATS_CTE = f"""{_DOC_TOKENS_CTE},
    stats AS (
        SELECT word,
               round(ln((SELECT count(*) FROM documents)::DOUBLE
                        / (count(DISTINCT doc_id) + 1)), 6) AS idf
        FROM tok GROUP BY word
    )"""


# ---------------------------------------------------------------------------
# Language routing (P2) — the reference's isin office split
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
# TF / DF / IDF (A4-A7)
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
# pandas-style average rank over idf (W2)
# ---------------------------------------------------------------------------
@register(
    "idf_average_rank",
    f"""
    WITH {_IDF_STATS_CTE}
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
# Top-k vocabulary with rank ids (O3)
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
# IDF quantile cutoff × alpha (A11) — the stop-word discovery rule
# ---------------------------------------------------------------------------
_STATS_CFG = CorpusStatsConfig()


@register(
    "idf_quantile_cutoff",
    f"""
    WITH {_IDF_STATS_CTE},
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
# Major POS per word (A8/W1) via the deterministic rule tagger
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
# Word-level keep/drop verdict — the reference's core rule
# keep ⇔ idf_rank >= K ∧ major_pos ∉ stop_pos ∧ len(word) > 1
# ---------------------------------------------------------------------------
_KEEP_K = 10.0  # text_process_v6.py:168 variant (v5 uses 100)
_STOP3_SQL = ", ".join(f"'{t}'" for t in stop_pos(3))


@register(
    "word_keep_verdict",
    f"""
    WITH {_IDF_STATS_CTE},
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
# Co-occurrence edges + nodes (J1/P3/P4/P11/P12/A2/A3)
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


# ---------------------------------------------------------------------------
# Sliding event-time window (W3)
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
# CUBE profile — replaces the reference's per-nation copy-pasted
# pipelines (text_process_v6.py:172-199) with one grouped query
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
# Stem → surface-form argmax (J4/A9; text_process_v4.py:17-30)
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
# Cleaned (scrubbed) text — the reference's clean_text chain
# (P7 len>1, P9 stop words, P8 stop-POS lv1, F12 array_join)
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Descriptive statistics over idf (A10; test.py:44-57 golden shape)
# ---------------------------------------------------------------------------
@register(
    "idf_descriptive_stats",
    f"""
    WITH {_IDF_STATS_CTE}
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
# Vocabulary semi-join (J2/P10) — keep only in-vocab tokens
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
            FROM freq WHERE tf >= {_VOCAB_CFG.vocab_min_freq}
        ) WHERE rank_id <= {_VOCAB_CFG.vocab_top_n}
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
    vocab = cs.vocabulary(
        freq, top_n=_VOCAB_CFG.vocab_top_n, min_freq=_VOCAB_CFG.vocab_min_freq
    ).select("word")
    kept = tok.join(F.broadcast(vocab), "word", "left_semi")
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vocab_tokens")
    )


# ---------------------------------------------------------------------------
# Stop-word anti-join (J3) — the large-stop-list variant of P9
# ---------------------------------------------------------------------------
@register(
    "stopword_antijoin_counts",
    f"""
    WITH {_DOC_TOKENS_CTE},
    stops AS (SELECT unnest([{_SW_SQL}]) AS sw)
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
# Routed split + union (X3; the reference's planned KR/EN merge)
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
# Timestamp label formatting (F7; text_process_v2.py:263-264)
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
# NLP annotation rollup — the PYTHON KERNEL oracle-checked end to
# end: the Spark side runs the Arrow annotation UDF; the oracle
# re-derives the same tokens (the kernel's fixed regex via DuckDB
# regexp_extract_all — RE2 ≡ Python re on this ASCII corpus) and
# the same tags (tagger.tag_word_ctx_sql: the word-level CASE from
# the identical rule table + the all-caps-span context rule via
# lag/lead over token position). A kernel/rule divergence breaks
# the hash.
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
# Alpha sweep (sna_analysis.py:187-191): all six cutoffs in ONE
# query — the reference loops the whole corpus per alpha
# ---------------------------------------------------------------------------
_ALPHAS = (0.5, 0.6, 0.7, 0.8, 0.9, 1.0)


@register(
    "idf_alpha_sweep",
    f"""
    WITH {_IDF_STATS_CTE},
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


# ---------------------------------------------------------------------------
# BPE-ish subtoken counting (training-data token accounting)
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
# ntile deciles over document length
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
    """Length-decile profile: where the corpus's length mass sits. ntile
    needs a global sort — fine for a profile query; a length bucket for
    partitioning at scale would use fixed bounds, so no global shuffle."""
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
# Substring-occurrence counts (F14: doc.count('nitinol'), test.py:36-41)
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
# Marker-word language-ID (SQL-expressible stand-in) confusion matrix
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
# Set operations: INTERSECT / EXCEPT over derived vocabularies (X1, X2)
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
# Token-count histogram (training-budget planning)
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
    length-bucketed partitions. floor(log2 n) is computed EXACTLY in
    both engines as length(bin(n))-1 (integer bit-length; float log2 at
    bucket boundaries is not portable). One explode-free scan + a tiny
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
# Vocabulary growth curve (Heaps' law report)
# ---------------------------------------------------------------------------
@register(
    "vocab_growth_curve",
    f"""
    WITH {_doc_word_spans_sql(2)},
    n AS (SELECT max(doc_id) + 1 AS n_docs FROM documents),
    firsts AS (
        SELECT span, min(doc_id) AS first_doc FROM sp GROUP BY span
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
# Tokenizer fertility + script-mixing profiles — the per-language
# capacity/cleanliness reports a pretraining mixture review reads.
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
