"""Co-occurrence (SNA) edge/node tables (SURVEY.md §2.3 J1 + §3 entry 1).

Reference pipeline (text_process.py:309-353):
    explode(word) → groupBy(ts, actor, word).count()
    → self inner join on word (+ ts equality, actor inequality)
    → edge = (w_x + w_y) / 2 → groupBy(ts, src, dst).sum(edge)
    → node table = groupBy(actor).count()

Scale: the self-join is quadratic in per-(word, ts) group size — one
hot word ("the") at web scale produces 10^12+ pairs. Mitigations, in
order (SURVEY.md §7.4 risk 3):
 1. pre-filter the vocabulary (the reference does this via stop lists /
    IDF cutoffs) — pass a ``vocab`` DataFrame, broadcast-semi-joined;
 2. ``max_actors_per_key`` guard: drop join keys whose group exceeds a
    cap (they are function words with no analytical value, and they are
    precisely the ones the IDF cutoff would kill);
 3. AQE skew-join splitting handles residual moderate skew at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from textcleaning_spark.config import COOC_MAX_ACTORS_PER_KEY
from textcleaning_spark.operators.corpus_stats import explode_tokens


def actor_word_weights(
    df: DataFrame, ts_col: str, actor_col: str, text_col: str, doc_col: str
) -> DataFrame:
    """(ts, actor, word) → weight=count (A1; text_process.py:319-326)."""
    tok = explode_tokens(
        df.select(F.col(doc_col), F.col(ts_col), F.col(actor_col), F.col(text_col)),
        doc_col,
        text_col,
    ).select(F.col(ts_col).alias("ts"), F.col(actor_col).alias("actor"), "word")
    return tok.groupBy("ts", "actor", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("weight")
    )


def cooccurrence_edges(
    weights: DataFrame,
    vocab: DataFrame | None = None,
    max_actors_per_key: int | None = COOC_MAX_ACTORS_PER_KEY,
) -> DataFrame:
    """Edge list: actor pairs sharing a word in the same ts bucket (J1).

    Keeps the reference's exact semantics: both (a,b) and (b,a) rows
    survive the inequality filter and are summed separately, weight per
    pair-occurrence = (w_a + w_b) / 2.

    The hot-key guard is ON by default (config.COOC_MAX_ACTORS_PER_KEY;
    pass ``max_actors_per_key=None`` to disable): keys above the cap
    are removed via a broadcast ANTI-join on the over-cap set — tiny by
    construction (only keys a quadratic blowup would come from), unlike
    the keep-set which is vocabulary-sized. tests/test_skew.py pins
    both the value-neutrality below the cap and the bounded pair count
    on a corpus where one word is shared by every actor.
    """
    w = weights
    if vocab is not None:
        w = w.join(F.broadcast(vocab.select("word")), "word", "left_semi")
    if max_actors_per_key is not None:
        key_sizes = w.groupBy("ts", "word").agg(F.count(F.lit(1)).alias("k"))
        hot = key_sizes.filter(F.col("k") > max_actors_per_key).select("ts", "word")
        w = w.join(F.broadcast(hot), ["ts", "word"], "left_anti")

    a = w.select(
        F.col("ts"), F.col("word"),
        F.col("actor").alias("src"), F.col("weight").alias("w_src"),
    )
    b = w.select(
        F.col("ts").alias("ts_b"), F.col("word").alias("word_b"),
        F.col("actor").alias("dst"), F.col("weight").alias("w_dst"),
    )
    pairs = a.join(
        b,
        (a.word == b.word_b) & (a.ts == b.ts_b) & (a.src != b.dst),
        "inner",
    ).withColumn("edge", (F.col("w_src") + F.col("w_dst")) / F.lit(2.0))
    return (
        pairs.groupBy("ts", "src", "dst")
        .agg(F.sum("edge").alias("weight"))
        .select("ts", "src", "dst", F.round("weight", 4).alias("weight"))
    )


def node_table(weights: DataFrame) -> DataFrame:
    """Node list: actor → distinct (ts, word) row count (A3;
    text_process.py:345-350 counts the grouped rows per actor)."""
    return weights.groupBy(F.col("actor").alias("id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
