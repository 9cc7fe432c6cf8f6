"""PII / toxicity scrub (north_rule; F9 generalized).

The scrub chain is NATIVE ``regexp_replace`` — it runs inside
whole-stage codegen, not Python. The pure-Python twin exists only for
the golden byte-identity tests (Python ``re`` and Java regex agree on
this portable pattern subset: no lookbehind, no backrefs).

Byte contract: documents that hit no rule pass through byte-identical
(SURVEY.md §7.4 risk 1).
"""

from __future__ import annotations

import re
from re import _constants, _parser

from pyspark.sql import Column
from pyspark.sql import functions as F

from textcleaning_spark.config import ScrubConfig


def _toxic_pattern(term: str) -> str:
    return rf"\b{re.escape(term)}\b"


def required_literal(pattern: str) -> str | None:
    """The longest run of top-level literal characters in ``pattern``:
    a substring every match must contain, so a text without it cannot
    match. ``None`` (no gate) on IGNORECASE, on a pattern Python's
    parser rejects, or when the pattern has no top-level literal. Only
    top-level items count: a literal under a repeat, an alternation or
    a group may be skipped by a match. For the default rules this is
    ``@`` (email), ``-`` (ssn) and each toxic term itself.

    The run breaks at U+000B: Python reads ``\\v`` as that one
    character, Java regex as the whole vertical-whitespace class."""
    try:
        parsed = _parser.parse(pattern)
    except re.error:
        return None
    if parsed.state.flags & re.IGNORECASE:
        return None
    best = run = ""
    for op, av in parsed:
        if op is _constants.LITERAL and av != 0x0B:
            run += chr(av)
            best = max(best, run, key=len)
        else:
            run = ""
    return best or None


def _rule_patterns(cfg: ScrubConfig) -> list[tuple[str, str, str]]:
    """(hit field, pattern, replacement) in chain order: the rules, then
    one ``\\b``-bounded pattern per toxic term (field ``toxic``)."""
    return [*cfg.rules] + [
        ("toxic", _toxic_pattern(t), cfg.toxic_replacement) for t in cfg.toxic_terms
    ]


def _gated_count(col: Column, pattern: str) -> Column:
    """``regexp_count`` (a ``size(regexp_extract_all)``: it builds the
    array of matches) behind an ``instr`` probe for the pattern's
    :func:`required_literal`. Exact: without the literal the count is
    0, and a NULL text still counts NULL."""
    n = F.regexp_count(col, F.lit(pattern))
    lit = required_literal(pattern)
    return n if lit is None else F.when(F.instr(col, lit) == 0, 0).otherwise(n)


def scrub_chain(col: Column, cfg: ScrubConfig) -> Column:
    """The ordered ``regexp_replace`` chain, ungated: every row pays one
    full-document pass per pattern."""
    out = col
    for _name, pat, rep in _rule_patterns(cfg):
        out = F.regexp_replace(out, pat, rep)
    return out


def scrub_col(
    col: Column, cfg: ScrubConfig | None = None, hits: Column | None = None
) -> Column:
    """Apply the full ordered scrub chain as native expressions.

    The chain is GATED on the rule counts: a document whose counts sum
    to 0 returns the input column untouched (byte-identical by
    construction — each ``regexp_replace`` with zero matches is already
    the identity, so the gate changes no value). On web corpora the
    overwhelming majority of documents carry no PII/toxic span, and
    ungated they still pay N_rules full-document copies per row.
    ``hits`` is the :func:`rule_hits` struct when the caller already
    computes it (the pipeline does), so each pattern is counted once;
    without it the counts are computed here. Callers pass a plain
    column reference, so its appearances here cost nothing.
    """
    cfg = cfg or ScrubConfig()
    if hits is None:
        hits = rule_hits(col, cfg)
    names = [name for name, _pat, _rep in cfg.rules] + ["toxic"]
    total = sum((hits[n] for n in names[1:]), hits[names[0]])
    return F.when(total > 0, scrub_chain(col, cfg)).otherwise(col)


def scrub_py(text: str, cfg: ScrubConfig | None = None) -> str:
    """Golden twin (sequential Python re) — must be byte-identical."""
    cfg = cfg or ScrubConfig()
    out = text
    for _name, pat, rep in _rule_patterns(cfg):
        out = re.sub(pat, rep, out)
    return out


def luhn_valid(cand: Column) -> Column:
    """Luhn mod-10 validity of a digit-only string — native HOFs only.

    Real pipelines gate credit-card PII scrubbing on the Luhn checksum
    (ISO/IEC 7812) to cut regex false positives: a 13-19-digit run is
    only treated as a card number when the check digit verifies. The
    whole test runs JVM-side (sequence → transform → aggregate), no
    Python. From the RIGHT, every second digit doubles (−9 when >9);
    the doubled-digit sum must be ≡ 0 (mod 10). NULL in → NULL out;
    the caller guarantees ``cand`` is a non-empty digit run (the
    ``\\d{13,19}`` extraction upstream).
    """
    n = F.length(cand)
    terms = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.when(
            (n - i) % 2 == 1,
            F.when(
                (F.ascii(F.substr(cand, i, F.lit(1))) - 48) * 2 > 9,
                (F.ascii(F.substr(cand, i, F.lit(1))) - 48) * 2 - 9,
            ).otherwise((F.ascii(F.substr(cand, i, F.lit(1))) - 48) * 2),
        ).otherwise(F.ascii(F.substr(cand, i, F.lit(1))) - 48),
    )
    return F.aggregate(terms, F.lit(0), lambda a, x: a + x) % 10 == 0


def luhn_valid_py(s: str) -> bool:
    """Sequential Python twin of :func:`luhn_valid` (differential tests)."""
    total = 0
    for i, ch in enumerate(reversed(s)):
        d = ord(ch) - 48
        if i % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


def rule_hits(col: Column, cfg: ScrubConfig | None = None) -> Column:
    """Struct of per-rule hit counts (native ``regexp_count``, each
    gated on its pattern's required literal) — feeds the audit/metrics
    table. ``toxic`` sums the toxic terms' counts."""
    cfg = cfg or ScrubConfig()
    counts: dict[str, Column] = {}
    for name, pat, _rep in _rule_patterns(cfg):
        c = _gated_count(col, pat)
        counts[name] = counts[name] + c if name in counts else c
    counts.setdefault("toxic", F.lit(0))
    return F.struct(*(c.cast("bigint").alias(name) for name, c in counts.items()))
