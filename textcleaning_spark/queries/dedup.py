"""Dedup family: exact, MinHash/LSH, SimHash, shingle and winnowing
near-duplicate detection, dedup clusters and verdicts, boilerplate
lines and span-level contamination and decontamination."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from textcleaning_spark.functions import text as T
from textcleaning_spark.operators import dedup as dd
from textcleaning_spark.queries import register
from textcleaning_spark.queries.common import (
    _TOK,
    _doc_md5,
    _doc_md5_sql,
    _doc_word_spans,
    _doc_word_spans_sql,
)
from textcleaning_spark.sources.registry import load_table


_MINHASH_K = 8
_JACCARD_T = 0.96  # token-set near-dup threshold
_SHINGLE_T = 0.5  # word 3-gram shingle near-dup threshold


# ---------------------------------------------------------------------------
# Near-dup recipes, each spelled once per engine: the DuckDB CTE chains
# below, and on the Spark side dd.ppjoin_pairs / ppjoin_pairs_rs (exact
# pairs), _doc_shingle_sets (shingles) and dd.minhash_signature(_sets) +
# lsh_candidate_pairs (LSH candidates).
# ---------------------------------------------------------------------------
def _jaccard_pairs_sql(
    elems: str, elem: str, t: float, pair: str = "a.doc < b.doc"
) -> str:
    """CTEs ``sizes``, ``common`` and ``pairs`` (doc_a, doc_b, jaccard):
    every document pair, of those ``pair`` admits, whose (doc, <elem>)
    sets in CTE ``elems`` have Jaccard >= t — the naive shared-element
    join that the PPJoin bounds are lossless against."""
    return f"""
    sizes AS (SELECT doc, count(*)::BIGINT AS sz FROM {elems} GROUP BY doc),
    common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, count(*)::BIGINT AS common
        FROM {elems} a JOIN {elems} b ON a.{elem} = b.{elem} AND {pair}
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b,
               round(common::DOUBLE / (sa.sz + sb.sz - common), 6) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc = doc_a
        JOIN sizes sb ON sb.doc = doc_b
        WHERE common::DOUBLE / (sa.sz + sb.sz - common) >= {t}
    )"""


# (doc, shingle): the distinct word 3-gram shingles of each document
_SHINGLES_SQL = f"""
    sh AS (
        SELECT doc_id AS doc,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len({_TOK}) - 1, 1)),
                   i -> array_to_string(list_slice({_TOK}, i, i + 2), ' ')
               ))) AS shingle
        FROM documents
    )"""


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


_SHINGLE_PAIRS_SQL = f"{_SHINGLES_SQL},{_jaccard_pairs_sql('sh', 'shingle', _SHINGLE_T)}"


def _minhash_sigs_sql(src: str) -> str:
    """SELECT of doc_id and the k MinHash signatures over ``src``."""
    sigs = ", ".join(dd.minhash_signature_sql("text", _MINHASH_K))
    return f"SELECT doc_id, {sigs} FROM {src}"


def _lsh_candidates_sql(src: str) -> str:
    """CTEs ``sigs``, ``banded`` and ``cand`` (doc_a < doc_b): the pairs
    of ``src`` documents whose MinHash signatures collide in any of 4
    bands of 2 rows — minhash_signature + lsh_candidate_pairs(k=8,
    bands=4)."""
    return f"""
    sigs AS ({_minhash_sigs_sql(src)}),
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
    )"""


# ---------------------------------------------------------------------------
# Exact, MinHash and token-set Jaccard dedup
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


@register("minhash_signatures", _minhash_sigs_sql("documents"))
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=8 MinHash signatures as native expressions (md5 permutations
    over the distinct-token set)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_signature(docs, "doc_id", "text", _MINHASH_K)


@register(
    "near_dup_jaccard",
    f"""
    WITH tok AS (
        SELECT doc_id AS doc, unnest(list_distinct({_TOK})) AS word FROM documents
    ),{_jaccard_pairs_sql("tok", "word", _JACCARD_T)}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs token-set Jaccard ≥ 0.96 (oracle path; the LSH
    pipeline replaces this at scale — see lsh_candidate_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.token_jaccard_pairs(docs, "doc_id", "text", _JACCARD_T)


# ---------------------------------------------------------------------------
# SimHash fingerprints (dedup family; 16-bit engine-portable)
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
    return dd.simhash(docs, "doc_id", "text", n_bits=16)


# ---------------------------------------------------------------------------
# SimHash hamming-band near-dup pairs: band equi-join +
# bit_count(xor) filter — exact for hamming <= bands-1 by
# pigeonhole, shuffling O(docs × bands) keys, never the O(N²)
# pair space (Manku/Jain/Sarma WWW 2007 blocking).
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
# MinHash-LSH candidate pairs — the linear-shuffle near-dup path
# ---------------------------------------------------------------------------
@register(
    "lsh_candidate_pairs",
    f"WITH {_lsh_candidates_sql('documents')} SELECT doc_a, doc_b FROM cand",
)
def lsh_candidate_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding over MinHash signatures: candidate generation joins
    on (band, hash) buckets — O(docs × bands) shuffle, never O(docs²)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signature(docs, "doc_id", "text", k=_MINHASH_K)
    return dd.lsh_candidate_pairs(sigs, "doc_id", k=_MINHASH_K, bands=4)


# ---------------------------------------------------------------------------
# 3-gram shingle near-dup pairs (the n-gram variant of Jaccard)
# ---------------------------------------------------------------------------
@register(
    "shingle_near_dup",
    f"WITH {_SHINGLE_PAIRS_SQL} SELECT doc_a, doc_b, jaccard FROM pairs",
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
    docs = load_table(spark, sf_dir, "documents")
    return dd.ppjoin_pairs(_doc_shingle_sets(docs), "doc", "__sh", _SHINGLE_T)


# ---------------------------------------------------------------------------
# Rolling-hash document fingerprints (order-sensitive, integer-exact)
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
# Winnowing fingerprints: per-window argmin over 3-gram
# hashes — the substring-robust local fingerprint (Schleimer et
# al. SIGMOD 2003); any shared token run of >= k+w-1 = 6 tokens
# shares a selected fingerprint.
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
# Near-dup clustering: connected components over shingle pairs
# ---------------------------------------------------------------------------
# connected components of the shingle near-dup pairs: (node,
# cluster_id) in DuckDB, (node, comp) in Spark
_SHINGLE_COMPS_SQL = f"""{_SHINGLE_PAIRS_SQL},
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
    comps AS (SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node)"""


def _shingle_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = shingle_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    return dd.connected_components(pairs, "doc_a", "doc_b")


@register(
    "near_dup_clusters",
    f"""
    WITH RECURSIVE {_SHINGLE_COMPS_SQL}
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
    comps = _shingle_components(spark, sf_dir)
    return comps.groupBy(F.col("comp").cast("bigint").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("node").cast("bigint").alias("keeper"),
        F.max("node").cast("bigint").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# Corpus-level boilerplate line removal (CCNet paragraph dedup)
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
    keys — while the oracle groups on the string, so the oracle check
    is also the hash-vs-string parity check.

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
    deduped = corpus_line_dedup(lines, min_docs=_BOILER_MIN_DOCS, joiner=" ")
    return deduped.select(
        "doc_id",
        "n_lines",
        "n_removed",
        F.md5(F.encode(F.col("clean_text"), "UTF-8")).alias("clean_hash"),
    )


# ---------------------------------------------------------------------------
# Span contamination (dedup-spans shape, Lee et al. 2022)
# ---------------------------------------------------------------------------
_SPAN_W = 8
_SPANS_SQL = _doc_word_spans_sql(_SPAN_W)


@register(
    "span_contamination",
    f"""
    WITH {_SPANS_SQL},
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
# Dedup keep verdict — the per-document output a dedup pipeline ships
# ---------------------------------------------------------------------------
@register(
    "dedup_keep_verdict",
    f"""
    WITH RECURSIVE {_SHINGLE_COMPS_SQL}
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
    comps = _shingle_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    joined = docs.join(comps, docs.doc_id == comps.node, "left")
    cluster = F.coalesce(F.col("comp"), F.col("doc_id"))
    return joined.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        cluster.cast("bigint").alias("cluster_id"),
        (cluster == F.col("doc_id")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Incremental crawl dedup (new snapshot vs seen corpus, R-S PPJoin)
# ---------------------------------------------------------------------------
@register(
    "incremental_crawl_dedup",
    f"""
    WITH {_SHINGLES_SQL},{_jaccard_pairs_sql(
        "sh", "shingle", _SHINGLE_T, pair="a.doc % 2 = 1 AND b.doc % 2 = 0"
    )},
    near AS (SELECT DISTINCT doc_a AS doc_n FROM pairs),
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
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    old_hashes = (
        old.select(dd.text_hash(F.col("text")).alias("h"))
        .distinct()
        .withColumn("__exact", F.lit(1))
    )
    new_hashed = new.select("doc_id", dd.text_hash(F.col("text")).alias("h"))

    near_ids = (
        dd.ppjoin_pairs_rs(
            _doc_shingle_sets(new), _doc_shingle_sets(old), "doc", "__sh", _SHINGLE_T
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
# Benchmark decontamination (GPT-3 appendix-C / Llama shape):
# training docs sharing a word n-gram with a held-out eval set.
# ---------------------------------------------------------------------------
@register(
    "benchmark_decontam",
    f"""
    WITH {_SPANS_SQL},
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
    """,
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
    join instead of OOMing every executor (a forced broadcast of a
    corpus-sized side does). With the broadcast, training spans are
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


_LSH_AUDIT_SALT = "lshaudit"
_LSH_AUDIT_HEX_CUT = "33333333"  # ~20% deterministic audit sample


# ---------------------------------------------------------------------------
# MinHash-LSH recall audit — closes the loop on the near-dup scale
# path, FULLY oracle-checked: both sides of the recall fraction are
# md5 arithmetic DuckDB can replay exactly.
# ---------------------------------------------------------------------------
@register(
    "minhash_lsh_recall",
    f"""
    WITH sampled AS (
        SELECT doc_id, text FROM documents
        WHERE substr({_doc_md5_sql(_LSH_AUDIT_SALT)}, 1, 8) < '{_LSH_AUDIT_HEX_CUT}'
    ),
    tok AS (
        SELECT doc_id AS doc, unnest(list_distinct({_TOK})) AS word
        FROM sampled
    ),{_jaccard_pairs_sql("tok", "word", _JACCARD_T)},{_lsh_candidates_sql("sampled")},
    hits AS (
        SELECT t.doc_a FROM pairs t
        JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT * FROM (
        SELECT (SELECT count(*) FROM pairs)::BIGINT AS n_truth,
               (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
               (SELECT count(*) FROM hits)::BIGINT AS n_hits,
               round((SELECT count(*) FROM hits)::DOUBLE
                     / (SELECT count(*) FROM pairs), 6) AS recall
    ) WHERE n_hits * 10 >= n_truth * 9
    """,
)
def minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked MinHash-LSH quality gate: recall of the banded
    candidate generator (`lsh_candidate_pairs`, the linear-shuffle
    scale path) against the exact Jaccard truth set
    (`near_dup_jaccard`, PPJoin-bounded) at the same threshold.

    With k=8 signatures in 4 bands of 2 rows, a pair at Jaccard s
    collides with probability 1-(1-s^2)^4 — 0.99996 at the 0.96
    threshold, so recall should sit at ~1.0; the in-query gate
    (n_hits*10 >= n_truth*9, exact integer arithmetic — CLAUDE.md
    unrounded-verdict rule) makes the single report row VANISH if
    banding ever degrades below 0.9, which the oracle check records as
    a row-count drop even before the value hash. The gate is fully
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
        F.substring(_doc_md5(_LSH_AUDIT_SALT), 1, 8) < _LSH_AUDIT_HEX_CUT
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
# Span novelty over corpus position — per-decile fraction of 8-gram
# span occurrences already seen earlier in the corpus: the "how much
# of each new slice is really new" curve an incremental ingest reads
# (span-granular complement of incremental_crawl_dedup).
# ---------------------------------------------------------------------------
@register(
    "span_novelty",
    f"""
    WITH {_SPANS_SQL},
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
# Bloom-prefiltered decontamination — benchmark_decontam's scale
# variant: eval-span membership pushed to the training scan as
# pure bit arithmetic, the exact join sees only bloom survivors.
# Bloom filters have NO false negatives, so the result is row-
# identical to the exact query and shares its oracle shape.
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
    (measured ~13 s of py4j calls). ``from_json`` of one string
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
    WITH {_SPANS_SQL},
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
