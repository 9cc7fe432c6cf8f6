"""Pipeline configuration: rule thresholds and stop lists.

The reference hard-codes its knobs across six script versions
(stop-POS level 1-3 at utils.py:230-243, idf_rank cutoff 100 at
text_process_v5.py:164 vs 10 at text_process_v6.py:168, alpha 0.9 at
sna_analysis.py:179, vocabulary top-k n=50000/lower=3 at
sna_analysis.py:119). Here every knob is data on one config object
(SURVEY.md §7.4 risk 6).
"""

from __future__ import annotations

from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Stop-POS tag lists, three severity levels (semantics of utils.py:230-243;
# Penn-Treebank tag families are public knowledge).
# ---------------------------------------------------------------------------
STOP_POS_LV1: tuple[str, ...] = (
    "``", "''", "CC", "DT", "IN", "TO", ",", "$", "(", ")", "--", ".", ":",
)
STOP_POS_LV2: tuple[str, ...] = STOP_POS_LV1 + (
    "CD", "EX", "JJ", "JJR", "JJS", "LS", "MD", "PDT", "POS",
    "PRP", "PRP$", "RB", "RBR", "RBS", "UH",
)
STOP_POS_LV3: tuple[str, ...] = STOP_POS_LV2 + (
    "VB", "VBD", "VBG", "VBN", "VBP", "VBZ", "WDT", "WP", "WP$", "WRB",
)


def stop_pos(level: int = 3) -> tuple[str, ...]:
    """Stop-POS list by severity level (1..3); [] otherwise."""
    return {1: STOP_POS_LV1, 2: STOP_POS_LV2, 3: STOP_POS_LV3}.get(level, ())


# ---------------------------------------------------------------------------
# English function words (public classic stop-word list; the reference uses
# nltk.corpus.stopwords — we ship our own fixed list for determinism).
# Used both for the stop-word-removal operator and for the Gopher/C4-style
# "document must contain stop words" quality rule.
# ---------------------------------------------------------------------------
STOP_WORDS: tuple[str, ...] = (
    "a", "an", "the", "and", "or", "but", "if", "then", "else", "of", "in",
    "to", "on", "for", "with", "at", "by", "from", "as", "is", "are", "was",
    "were", "be", "been", "being", "it", "its", "this", "that", "these",
    "those", "he", "she", "they", "them", "his", "her", "their", "we", "us",
    "our", "you", "your", "i", "me", "my", "not", "no", "nor", "so", "too",
    "very", "can", "will", "just", "do", "does", "did", "have", "has", "had",
    "what", "which", "who", "whom", "when", "where", "why", "how", "all",
    "any", "both", "each", "few", "more", "most", "other", "some", "such",
    "than", "there", "about", "into", "through", "during", "before", "after",
    "above", "below", "up", "down", "out", "off", "over", "under", "again",
)


# ---------------------------------------------------------------------------
# Connected-components (near-dup clustering) execution knob: below this many
# PAIRS the component labeling runs as a single driver-side union-find (one
# job, no iteration); above it the distributed min-label loop takes over.
# A 100 TB job that must never collect sets this to 0.
# ---------------------------------------------------------------------------
CC_DRIVER_THRESHOLD: int = 1_000_000

# Co-occurrence self-join hot-key guard (default ON): join keys shared
# by more than this many actors are dropped BEFORE the pair join. The
# self-join is quadratic per (ts, word) group — one function word shared
# by 10^6 actors is 10^12 pairs — and the over-cap keys are precisely
# the function words the downstream IDF cutoff kills anyway (the
# reference's own vocabulary pre-filter, sna_analysis.py:119, removes
# them before its join). The cap is far above any group the driver's
# synthetic corpora produce, so oracle-checked results are unchanged;
# a 100 TB run tunes it per corpus, None disables.
COOC_MAX_ACTORS_PER_KEY: int = 10_000


# The nine document rules, in drop_reasons order: (reason, signal, min
# field, max field). A document fails a rule when its signal is below the
# QualityConfig min field or above the max field (None: no bound on that
# side), and is kept when it fails none. Every keep/drop twin is built
# from this table: the Spark keep and drop_reasons (operators/quality.py),
# the DuckDB keep_expr_sql and reason list (functions/text.py) and the
# hits_<reason> metrics columns (plans/pipeline.py).
QUALITY_RULES: tuple[tuple[str, str, str | None, str | None], ...] = (
    ("too_short", "n_words", "min_words", None),
    ("too_long", "n_words", None, "max_words"),
    ("word_len", "mean_word_len", "min_mean_word_len", "max_mean_word_len"),
    ("symbol_ratio", "symbol_ratio", None, "max_symbol_to_word_ratio"),
    ("no_stop_words", "stop_word_count", "min_stop_word_count", None),
    ("dup_lines", "dup_line_frac", None, "max_dup_line_frac"),
    ("dup_ngrams", "dup_ngram_frac", None, "max_dup_ngram_frac"),
    ("non_alpha", "alpha_word_frac", "min_alpha_word_frac", None),
    ("ellipsis", "ellipsis_line_frac", None, "max_ellipsis_line_frac"),
)


@dataclass(frozen=True)
class QualityConfig:
    """Document-level keep/drop heuristic thresholds (Gopher/C4-style).

    Generalizes the reference's word-level keep/drop (idf_rank >= K and
    major_pos in pass set, text_process_v5.py:164-169) to documents.
    """

    min_words: int = 5
    max_words: int = 100_000
    min_mean_word_len: float = 2.0
    max_mean_word_len: float = 12.0
    max_symbol_to_word_ratio: float = 0.10   # '#' and '...' per Gopher
    min_stop_word_count: int = 1             # C4-ish: must contain stop words
    max_dup_line_frac: float = 0.30          # boilerplate repetition
    max_dup_ngram_frac: float = 0.50         # Gopher repetition n-gram
    # ratio (word 2-grams): clean prose measures ≤0.16 on the synthetic
    # corpus, repeated-boilerplate ≥0.71 — 0.5 splits with wide margin
    min_alpha_word_frac: float = 0.60        # frac of tokens with an alpha char
    max_ellipsis_line_frac: float = 0.30

    def rules(self) -> list[tuple[str, str, float | None, float | None]]:
        """:data:`QUALITY_RULES` with each bound field read from this
        config: ``(reason, signal, min, max)``."""
        return [
            (
                reason,
                signal,
                None if lo is None else getattr(self, lo),
                None if hi is None else getattr(self, hi),
            )
            for reason, signal, lo, hi in QUALITY_RULES
        ]


@dataclass(frozen=True)
class CorpusStatsConfig:
    """Word-statistics knobs (reference values preserved as defaults)."""

    quantile_q: float = 0.25         # sna_analysis.py:178
    alpha: float = 0.9               # sna_analysis.py:179
    vocab_top_n: int = 50_000        # sna_analysis.py:119
    vocab_min_freq: int = 3          # 'lower' in sna_analysis.py:119


@dataclass(frozen=True)
class ScrubConfig:
    """PII / toxicity scrub rules: ordered (name, regex, replacement).

    Patterns use the common portable regex subset (no lookbehind) so the
    same pattern string runs identically under Java regex (Spark),
    Python re (golden pandas), and RE2 (DuckDB oracle).
    """

    rules: tuple[tuple[str, str, str], ...] = (
        ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
        ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
        ("phone", r"\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b", "<PHONE>"),
        ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    )
    toxic_terms: tuple[str, ...] = ("badword", "slur1", "slur2")
    toxic_replacement: str = "<TOX>"


@dataclass(frozen=True)
class PipelineConfig:
    quality: QualityConfig = field(default_factory=QualityConfig)
    scrub: ScrubConfig = field(default_factory=ScrubConfig)


DEFAULT_CONFIG = PipelineConfig()
