"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash signatures + LSH banding, token-set
Jaccard, SimHash, and n-gram shingling. The reference only ever
deduplicates implicitly (``set(doc)`` per document, A5) — these are the
web-scale generalizations the north-star pipeline needs.

Scale notes:
* Exact dedup shuffles (hash, doc) pairs — the text itself never
  shuffles (hash first, group on the 128-bit digest).
* MinHash/LSH: signatures are computed scan-side (native expressions,
  no Python); candidate generation joins on (band_id, band_hash) so the
  shuffle volume is O(docs × bands), never O(docs²). The verify step
  runs only on bucket collisions.
* All-pairs token-set Jaccard is provided for oracle-checkable small
  scale; at 100 TB only the LSH path is used.
* Candidate-volume caveat measured on the driver's synthetic corpus:
  its vocabulary is tiny and uniform (median pairwise token-set
  Jaccard 0.68; 10% of ALL pairs ≥ 0.9), so ANY candidate generator
  targeting a sub-0.9 threshold is genuinely dense there — millions of
  true candidates, not an algorithmic blowup. On realistic Zipfian web
  text the same plans are near-linear; the prefix+length filters and
  LSH banding bound the pair space by actual similarity density.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from textcleaning_spark.functions.text import tokens


def text_hash(col):
    """128-bit content hash (md5 over UTF-8) — exact-dedup key."""
    return F.md5(F.encode(col, "UTF-8"))


def exact_duplicates(df: DataFrame, doc_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the
    keeper (min doc id) and the copy count."""
    return (
        df.select(F.col(doc_col), text_hash(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.min(doc_col).alias("keeper"),
        )
    )


def minhash_signature_sets(
    df: DataFrame,
    doc_col: str,
    toks_col: str,
    k: int = 8,
) -> DataFrame:
    """k-permutation MinHash over a pre-built distinct-element array
    column: permutation i = md5("<i>|" + token), signature =
    lexicographic min. Deterministic and engine-portable (md5 is md5).
    Taking the SET COLUMN (not text) lets callers that also need the
    raw sets — e.g. an LSH-vs-exact-Jaccard recall audit — build them
    once and feed both consumers from one scan."""
    toks = F.col(toks_col)
    sig_cols = [
        F.array_min(
            F.transform(toks, lambda t: F.md5(F.encode(F.concat(F.lit(f"{i}|"), t), "UTF-8")))
        ).alias(f"sig_{i}")
        for i in range(k)
    ]
    return df.select(F.col(doc_col), *sig_cols)


def minhash_signature(
    df: DataFrame,
    doc_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """MinHash signatures from raw text (see
    :func:`minhash_signature_sets`). The token set is materialized as
    a column FIRST so tokenize+distinct runs once per row —
    referencing the expression from all k signature columns would
    build (and execute) k copies of it (CollapseProject keeps a
    non-cheap multiply-referenced expression in its own Project)."""
    setted = df.select(
        F.col(doc_col), F.array_distinct(tokens(text_col)).alias("__toks")
    )
    return minhash_signature_sets(setted, doc_col, "__toks", k)


def minhash_signature_sql(text_col: str, k: int = 8) -> list[str]:
    """DuckDB SELECT-list fragments matching :func:`minhash_signature`."""
    toks = f"list_distinct(list_filter(string_split({text_col}, ' '), x -> x <> ''))"
    return [
        f"list_min(list_transform({toks}, t -> md5('{i}|' || t))) AS sig_{i}"
        for i in range(k)
    ]


def lsh_candidate_pairs(
    signatures: DataFrame, doc_col: str, k: int = 8, bands: int = 4
) -> DataFrame:
    """LSH banding: hash each band of k/bands signature values; docs
    colliding in ANY band become a candidate pair (doc_a < doc_b).

    This is the scale path: shuffle on (band_id, band_hash) buckets —
    near-linear — instead of the quadratic all-pairs join.
    """
    rows_per_band = k // bands
    banded = signatures.select(
        F.col(doc_col),
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.encode(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(f"sig_{b * rows_per_band + r}")
                                    for r in range(rows_per_band)
                                ],
                            ),
                            "UTF-8",
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_id", "band_hash"),
    )
    a = banded.select(
        F.col(doc_col).alias("doc_a"), "band_id", "band_hash"
    )
    b = banded.select(
        F.col(doc_col).alias("doc_b"), F.col("band_id").alias("band_id_b"),
        F.col("band_hash").alias("band_hash_b"),
    )
    return (
        a.join(
            b,
            (a.band_id == b.band_id_b)
            & (a.band_hash == b.band_hash_b)
            & (a.doc_a < b.doc_b),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def _explode_sets(tok_sets: DataFrame) -> DataFrame:
    """(doc, toks, sz) → one row per element. explode_outer + null
    filter, NOT plain explode: the optimizer infers ``size(toks) > 0``
    from a non-outer Generate and pushes it below the Project,
    re-inlining the set-building expression so it runs twice per row
    (see winnow_fingerprints note)."""
    return (
        tok_sets.select("doc", "sz", F.explode_outer("toks").alias("word"))
        .filter(F.col("word").isNotNull())
    )


def _prefix_frame(tok: DataFrame, freq: DataFrame, t_dec) -> DataFrame:
    """PPJoin prefix: each doc keeps its first ``sz - ceil(t·sz) + 1``
    elements under the global (df asc, element asc) order — the RAREST
    elements, so hot elements never enter a prefix."""
    w = Window.partitionBy("doc").orderBy("df", "word")
    return (
        tok.join(freq, "word")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("sz") - F.ceil(t_dec * F.col("sz")).cast("int") + 1
        )
        .select("doc", "word", "sz")
    )


def _ppjoin_candidates(tok_sets: DataFrame, t_dec) -> DataFrame:
    """PPJoin candidate pairs over ``(doc, toks, sz)`` element sets.

    Prefix filtering (PPJoin, Xiao et al. 2008 — public result) is
    lossless: under any GLOBAL total element order, two sets with
    Jaccard ≥ t must share their smallest common element within each
    set's first ``sz - ceil(t·sz) + 1`` elements. Ordering by
    (document frequency asc, element asc) makes those prefixes the
    RAREST elements, so the candidate join touches tiny postings and
    hot elements (stop words, boilerplate shingles) never reach it —
    a hot key with df = 1% of the corpus would otherwise make the
    posting self-join O(k²) in that single key.

    Exposed separately so tests can assert the candidate space is
    bounded on adversarial corpora (tests/test_skew.py hot-shingle
    case: naive pair space O(N²), candidates here 0).
    """
    tok = _explode_sets(tok_sets)
    freq = tok.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    prefix = _prefix_frame(tok, freq, t_dec)
    # length filter (also lossless): |A∩B| ≤ min(|A|,|B|) and Jaccard
    # ≥ t force t·|A| ≤ |B| and t·|B| ≤ |A| — near-equal set sizes.
    # On corpora where the prefix tokens are not discriminative (tiny
    # vocabulary), this is what keeps the candidate space subquadratic.
    return (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.word") == F.col("pb.word"))
            & (F.col("pa.doc") < F.col("pb.doc"))
            & (F.col("pb.sz") >= t_dec * F.col("pa.sz"))
            & (F.col("pa.sz") >= t_dec * F.col("pb.sz")),
        )
        .select(F.col("pa.doc").alias("doc_a"), F.col("pb.doc").alias("doc_b"))
        .distinct()
    )


def ppjoin_pairs(
    sets: DataFrame, doc_col: str, set_col: str, threshold: float
) -> DataFrame:
    """All-pairs set Jaccard ≥ threshold — EXACT, prefix-filtered.

    ``sets`` carries one row per document with a DISTINCT-element array
    (tokens, shingles, any set encoding). Candidates come from the
    PPJoin prefix+length bounds (:func:`_ppjoin_candidates`); exact
    Jaccard over the full arrays then decides each candidate, so the
    result equals the naive shared-element self-join form (the DuckDB
    oracles run the naive SQL and value-match this plan) while the
    candidate space stays bounded under hot elements.
    """
    # Bounds in EXACT decimal arithmetic: with float t, (1-t)*sz can
    # round across an integer boundary (t=0.8, sz=5: floor(0.9999…)=0
    # → prefix 1 instead of the lossless 2; sz_b >= 4.0000000000000002
    # rejects sz_b=4) and silently drop pairs AT the threshold. A
    # Decimal literal of the threshold string makes t*sz exact, so
    # prefix_len = sz - ceil(t*sz) + 1 and the length bounds are
    # lossless for ANY threshold, not just ones that round favorably.
    from decimal import Decimal

    t_dec = F.lit(Decimal(str(threshold)))
    # localCheckpoint so the set-building expression (tokenize+shingle,
    # typically the scan-stage cost) runs ONCE: the plan reads tok_sets
    # three times (candidate explode + both verify sides) and column
    # pruning keeps the branches distinct, so neither ReuseExchange nor
    # AQE dedups them — same layout argument as simhash_near_dup's
    # banded-fingerprint checkpoint.
    tok_sets = (
        sets.select(F.col(doc_col).alias("doc"), F.col(set_col).alias("toks"))
        .withColumn("sz", F.size("toks"))
        .localCheckpoint(eager=False)
    )
    cand = _ppjoin_candidates(tok_sets, t_dec)
    a = tok_sets.select(
        F.col("doc").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("sz").alias("sz_a"),
    )
    b = tok_sets.select(
        F.col("doc").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("sz").alias("sz_b"),
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("common", F.size(F.array_intersect("toks_a", "toks_b")))
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ppjoin_pairs_rs(
    left: DataFrame,
    right: DataFrame,
    doc_col: str,
    set_col: str,
    threshold: float,
) -> DataFrame:
    """Cross-corpus (R-S) exact Jaccard ≥ threshold: pairs
    ``(doc_l, doc_r)`` with doc_l from ``left`` and doc_r from
    ``right`` only — never left×left or right×right.

    This is the incremental-crawl shape: ``left`` = the new snapshot,
    ``right`` = the seen corpus; each new document is checked against
    the corpus without re-pairing the corpus with itself. The prefix
    bound is the same lossless PPJoin argument as the self-join form —
    it needs one GLOBAL total element order shared by both sides, so
    document frequency is computed over the UNION (keeping prefixes
    rare-first on the combined distribution); candidates come from
    prefix(left) ⋈ prefix(right) plus the two-sided length bounds, and
    exact Jaccard over the full arrays decides each candidate.
    """
    from decimal import Decimal

    t_dec = F.lit(Decimal(str(threshold)))
    tl = (
        left.select(F.col(doc_col).alias("doc"), F.col(set_col).alias("toks"))
        .withColumn("sz", F.size("toks"))
        .localCheckpoint(eager=False)
    )
    tr = (
        right.select(F.col(doc_col).alias("doc"), F.col(set_col).alias("toks"))
        .withColumn("sz", F.size("toks"))
        .localCheckpoint(eager=False)
    )
    tok_l, tok_r = _explode_sets(tl), _explode_sets(tr)
    freq = (
        tok_l.select("word")
        .unionAll(tok_r.select("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    pl = _prefix_frame(tok_l, freq, t_dec)
    pr = _prefix_frame(tok_r, freq, t_dec)
    cand = (
        pl.alias("pa")
        .join(
            pr.alias("pb"),
            (F.col("pa.word") == F.col("pb.word"))
            & (F.col("pb.sz") >= t_dec * F.col("pa.sz"))
            & (F.col("pa.sz") >= t_dec * F.col("pb.sz")),
        )
        .select(F.col("pa.doc").alias("doc_l"), F.col("pb.doc").alias("doc_r"))
        .distinct()
    )
    a = tl.select(
        F.col("doc").alias("doc_l"),
        F.col("toks").alias("toks_a"),
        F.col("sz").alias("sz_a"),
    )
    b = tr.select(
        F.col("doc").alias("doc_r"),
        F.col("toks").alias("toks_b"),
        F.col("sz").alias("sz_b"),
    )
    return (
        cand.join(a, "doc_l")
        .join(b, "doc_r")
        .withColumn("common", F.size(F.array_intersect("toks_a", "toks_b")))
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_l", "doc_r", F.round("jaccard", 6).alias("jaccard"))
    )


def token_jaccard_pairs(
    df: DataFrame, doc_col: str, text_col: str, threshold: float = 0.8
) -> DataFrame:
    """All-pairs token-set Jaccard ≥ threshold — EXACT, prefix-filtered.

    The naive plan joins full posting lists on ``word``: one hot token
    (a stop word in 40% of documents) alone yields a quadratic pair
    space — measured 99 s at sf0.1 and fatal at web scale. See
    :func:`ppjoin_pairs` for the bounded-candidate plan this routes
    through.
    """
    sets = df.select(
        F.col(doc_col).alias("doc"),
        F.array_distinct(tokens(text_col)).alias("toks"),
    )
    return ppjoin_pairs(sets, "doc", "toks", threshold)


def simhash(
    df: DataFrame, doc_col: str, text_col: str, n_bits: int = 16
) -> DataFrame:
    """``n_bits``-wide SimHash over distinct tokens, native expressions.

    Each token votes ±1 per bit position using bits of md5(token); the
    fingerprint bit is 1 iff the vote sum is positive. ``n_bits`` must
    be a multiple of 4 and ≤ 32 so the per-token hash is one BIGINT-
    safe md5 hex prefix on every engine.

    The per-token hashes are materialized ONCE into an array column
    before the per-bit vote folds reference it: building the md5
    inside each fold rebuilds tokenize+md5 ``n_bits`` times per row
    (CollapseProject keeps the two Projects apart because the hash
    array is non-cheap and referenced ``n_bits`` times — measured 4.7×
    on simhash_fingerprints at sf0.1).
    """
    assert n_bits % 4 == 0 and 4 <= n_bits <= 32
    hashed = df.select(
        F.col(doc_col),
        F.transform(
            F.array_distinct(tokens(text_col)),
            lambda t: F.conv(
                F.substring(F.md5(F.encode(t, "UTF-8")), 1, n_bits // 4),
                16,
                10,
            ).cast("bigint"),
        ).alias("__th"),
    )

    def _vote_merge(mask: int):
        # closure (not default-arg) so the lambda arity stays (acc, h)
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(mask)) > 0, F.lit(1)
        ).otherwise(F.lit(-1))

    bit_cols = []
    for bit in range(n_bits):
        mask = 1 << bit
        vote = F.aggregate(
            F.col("__th"), F.lit(0).cast("bigint"), _vote_merge(mask)
        )
        bit_cols.append(F.when(vote > 0, F.lit(mask)).otherwise(F.lit(0)))
    fp = bit_cols[0]
    for c in bit_cols[1:]:
        fp = fp + c
    return hashed.select(F.col(doc_col), fp.cast("bigint").alias("simhash"))


def simhash_near_dup(
    df: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
    band_bits: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs via hamming-band blocking (the web-dedup
    scheme of Manku, Jain & Sarma, WWW 2007 — public algorithm).

    Pigeonhole exactness: a pair within ``max_hamming = n_bands - 1``
    differing bits touches at most ``n_bands - 1`` bands, so at least
    one band is IDENTICAL — the band equi-join finds EVERY such pair
    (zero recall loss), while shuffling only (band, band_val, doc,
    fingerprint) keys: O(docs × bands) rows instead of the O(N²) pair
    space. Candidates are then filtered by the true hamming distance
    (bit_count of xor — native, codegen'd).

    Band width is the scale knob: each band key has 2^band_bits
    values, and expected bucket size N / 2^band_bits drives the
    candidate-join fan-out. 4-bit bands (16 values) made every bucket
    ~N/16 — quadratic in disguise, measured 9.3 s at sf0.1. 32-bit
    fingerprints with 8-bit bands (BIGINT-safe on every engine) cut
    candidates ~256× (9.3 s → measured below 2 s); the production
    shape at 10^12 docs is the same plan over 64-bit simhash with
    4×16-bit bands, 2^16 values per band.
    """
    mask = (1 << band_bits) - 1
    fp = simhash(df, doc_col, text_col, n_bits=n_bands * band_bits)
    bands = fp.select(
        F.col(doc_col).alias("doc"),
        "simhash",
        F.explode(F.array(*[F.lit(b) for b in range(n_bands)])).alias("band"),
    ).withColumn(
        "band_val",
        F.expr(f"shiftright(simhash, band * {band_bits})").bitwiseAND(
            F.lit(mask)
        ),
    )
    # localCheckpoint the banded fingerprints so the self-join reads
    # ONE materialization: column-pruning pushes each side's renames
    # below any common exchange, so neither ReuseExchange nor AQE
    # dedups the two branches and the full tokenize+md5+fold pass runs
    # twice (two FileScans in the executed plan). At sf0.1 wall-clock
    # is noise-equal either way (~4.5 s), but at scale the scan stage
    # is THE cost and this halves it — materializing the fingerprint
    # table before self-joining is also Manku et al.'s own layout. The
    # checkpointed rows are (band, band_val, doc, fp) — ~25 bytes/row
    # × 4 bands, executor-storage-sized at any joinable corpus size.
    keyed = bands.localCheckpoint(eager=False)
    a = keyed.select(
        F.col("doc").alias("doc_a"), F.col("simhash").alias("fp_a"),
        "band", "band_val",
    )
    b = keyed.select(
        F.col("doc").alias("doc_b"), F.col("simhash").alias("fp_b"),
        "band", "band_val",
    )
    # hamming-filter BEFORE the distinct: scoring a duplicate collision
    # is one xor+bit_count (map-side, free), but carrying it into the
    # distinct is a shuffled row — so the dedup shuffle sees only true
    # near-dups, not every multi-band collision. Same result set:
    # hamming is a pure function of the pair.
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("bigint"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def winnow_fingerprints(
    df: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the public local-fingerprinting algorithm behind
    MOSS): hash every token ``k``-gram, slide a window of ``w``
    consecutive gram hashes, and select the minimum hash per window
    (FIRST position on ties — the paper's robust variant picks the
    rightmost, which is stateful; the leftmost rule is chosen here
    because it is a pure per-window argmin, identically expressible in
    Spark and the SQL oracle, with the same density bound 2/(w+1)).

    Guarantee: any two documents sharing a token run of at least
    ``k + w - 1`` tokens share at least one selected fingerprint, so a
    fingerprint equi-join finds every long-enough overlap while keeping
    only ~2/(w+1) of the gram hashes. Docs with fewer than ``k`` tokens
    yield no fingerprints (nothing to gram).

    Scale shape: the whole selection is per-row native array math
    inside one codegen'd project (no Python stage, no shuffle); the
    output explode is O(docs × fingerprints/doc). Downstream contain-
    ment joins shuffle only (fp, doc, pos) triples — 24-byte keys, the
    text never moves. O(n·w) work per doc with w small and constant.

    Reference analogue: the reference fingerprints only whole documents
    (set(doc) membership, text_process_v5.py A5); winnowing is the
    substring-robust generalization a contamination/clone scan needs.
    """
    toked = df.select(F.col(doc_col), tokens(text_col).alias("__toks"))
    # gram hashes materialized ONCE as a column (CLAUDE.md pipeline-
    # shape rule: a reused Column expression is built as N tree copies)
    gh = toked.withColumn(
        "__g",
        F.when(
            F.size("__toks") >= k,
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - (k - 1)),
                lambda i: F.conv(
                    F.substring(
                        F.md5(
                            F.encode(
                                F.concat_ws(" ", F.slice("__toks", i, F.lit(k))),
                                "UTF-8",
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint"),
            ),
        ).otherwise(F.array().cast("array<bigint>")),
    ).drop("__toks")
    # per-window argmin over the materialized hash array; sequence(1, n)
    # is guarded behind size >= 1 (negative-step gotcha) and the short-
    # doc case (0 < grams < w) gets a single whole-list window
    sel = gh.withColumn(
        "__pos",
        F.expr(
            f"""
            array_distinct(CASE WHEN size(__g) >= 1 THEN
              transform(
                sequence(1, CASE WHEN size(__g) >= {w}
                              THEN size(__g) - {w - 1} ELSE 1 END),
                i -> CAST(i - 1 + array_position(
                       slice(__g, i, {w}),
                       array_min(slice(__g, i, {w}))) AS BIGINT))
            ELSE CAST(array() AS array<bigint>) END)
            """
        ),
    )
    # explode_outer + post-generate null filter, NOT plain explode: the
    # optimizer infers `size(__pos) > 0` from a non-outer Generate and
    # pushes it below the Projects, re-inlining the ENTIRE winnowing
    # expression tree into the filter condition (the whole computation
    # would run twice per row — observed in the physical plan). The
    # null-row overhead (one row per fingerprint-less doc) is noise.
    return (
        sel.select(
            F.col(doc_col),
            F.col("__g"),
            F.explode_outer("__pos").alias("pos"),
        )
        .filter(F.col("pos").isNotNull())
        .select(
            F.col(doc_col),
            F.col("pos"),
            F.expr("element_at(__g, CAST(pos AS INT))").alias("fp"),
        )
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 50,
    driver_threshold: int | None = None,
) -> DataFrame:
    """Connected components over an undirected pair graph — the
    clustering step that turns near-dup PAIRS into dedup GROUPS
    (cluster id = smallest member id, the canonical keeper).

    Min-label propagation: every node starts labeled with itself; each
    round, labels flow across edges and each node keeps the minimum;
    fixpoint in O(graph diameter) rounds. Near-dup graphs are
    short-diameter (clusters of mutual near-copies), so this converges
    in a handful of shuffles even at web scale; each round shuffles the
    edge list once (join) + the label table once (groupBy min).
    ``localCheckpoint`` after every round truncates the lineage so plan
    size stays constant instead of growing per iteration.

    Scale-adaptive: the PAIR graph is orders of magnitude smaller than
    the corpus (it exists only where a near-dup detector fired), so
    below ``driver_threshold`` pairs the component labeling runs as a
    driver-side union-find over the collected edge list — one job, no
    iteration. Above it, the distributed min-label loop takes over.
    Both produce comp = min member id; the loop is the 100 TB path,
    the union-find kills ~10 tiny shuffle rounds at bench scale.

    ``driver_threshold`` defaults to
    :data:`textcleaning_spark.config.CC_DRIVER_THRESHOLD` (config-
    surfaced so a 100 TB job can pin it to 0 and never collect).

    Returns (node, comp): one row per node that appears in ``pairs``.
    """
    if driver_threshold is None:
        from textcleaning_spark.config import CC_DRIVER_THRESHOLD

        driver_threshold = CC_DRIVER_THRESHOLD
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    e = e.localCheckpoint()
    if e.count() <= driver_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for row in e.collect():
            a, b = row["src"], row["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # second pass: root of each tree is its minimum member by
        # construction (we always parent the larger root to the smaller)
        out = [(n, find(n)) for n in parent]
        return e.sparkSession.createDataFrame(out, "node long, comp long")

    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neigh = edges.join(labels, edges["dst"] == labels["node"]).select(
            edges["src"].alias("node"),
            labels["comp"],
            F.lit(None).cast("long").alias("own"),
        )
        own = labels.select("node", "comp", F.col("comp").alias("own"))
        # convergence detection rides the SAME aggregation: each node's
        # previous label travels as `own` (min ignores the neighbor
        # rows' NULLs), so "did anything change" is a cheap scan of the
        # checkpointed result — no extra join round-trip per iteration
        new_labels = (
            own.unionByName(neigh)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.min("own").alias("own"))
            .localCheckpoint()
        )
        changed = (
            new_labels.filter(F.col("comp") != F.col("own")).limit(1).count()
        )
        labels = new_labels.select("node", "comp")
        if changed == 0:
            break
    else:
        # Exiting via max_iter means the labels are NOT a fixpoint —
        # returning them silently would hand back wrong clusters on a
        # long-diameter graph (path graphs need O(diameter) rounds).
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (diameter of the near-dup graph exceeds it)"
        )
    return labels


def url_dedup(df: DataFrame, url_col: str = "url", ts_col: str = "warc_ts") -> DataFrame:
    """URL-level dedup over a pages frame: one row per *canonical* url,
    keeping the LATEST crawl (max ``ts_col``, deterministic tie-break on
    the raw url string). This is the first dedup stage of a
    Common-Crawl-style pipeline — the same page recrawled under scheme/
    www/tracking-param/fragment surface variants collapses before any
    content hashing runs (functions/urls.py documents the rules; the
    north-star contract keys byte-identical text per url).

    Scale: the canonical form is computed scan-side (native regexps),
    and the one shuffle keys on the canonical string. The top-1 is a
    ``min_by`` aggregate over an ordering struct — a real declarative
    aggregate with a PARTIAL phase, so each map-side partition reduces
    its rows to one candidate per canonical url BEFORE the exchange
    (a window row_number has no partial: it would shuffle the whole
    pages frame). Ordering struct = (-unix_micros(ts), url): struct
    min is lexicographic, so max ts wins and ties break on min raw
    url — identical semantics to the previous window form
    (tests pin both the keep-latest and the tie-break behavior).
    Crawl snapshots are heavily url-skewed only at hot hosts, not hot
    full urls, and the partial phase absorbs even those.
    """
    from textcleaning_spark.functions.urls import canonical_url

    pages = df.withColumn("canonical_url", canonical_url(url_col))
    # cast guards TIMESTAMP_NTZ parquet reads (CLAUDE.md Spark-4 rule);
    # any session-TZ shift is monotonic, so the ordering is unchanged
    order_key = F.struct(
        (-F.unix_micros(F.col(ts_col).cast("timestamp"))).alias("neg_ts"),
        F.col(url_col).alias("url_tb"),
    )
    payload = F.struct(*[F.col(c) for c in pages.columns])
    return (
        pages.groupBy("canonical_url")
        .agg(F.min_by(payload, order_key).alias("_keep"))
        .select("_keep.*")
    )
