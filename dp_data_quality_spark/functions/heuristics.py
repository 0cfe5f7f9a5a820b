"""Vectorized quality heuristics — SQL expressions, no UDFs.

These are the engine's quality gates beyond the reference contract
(north rule: repetition ratio, symbol/word ratio, min/max length,
boilerplate detection).  Each one is rendered as SQL text over the text
column's SQL, so ``pipeline.score_turns`` plans them in one
``selectExpr``.  Everything here whole-stage-codegens.
"""

from __future__ import annotations

import re as _re

from ..config import FilterConfig
from .sqltext import number, string

# characters that are neither alphanumeric (incl. unicode letters) nor
# whitespace
SYMBOL_PATTERN = r"[^\p{L}\p{N}\s]"


def scored_prefix(t: str, cfg: FilterConfig) -> str:
    """The first ``cfg.score_prefix_chars`` characters of ``t`` (all of
    it when 0): what langid, perplexity and the character-class
    features see."""
    if not cfg.score_prefix_chars:
        return t
    return f"substring({t}, 1, {number(cfg.score_prefix_chars)})"


def symbol_ratio(t: str) -> str:
    """Fraction of characters of ``t`` matching ``SYMBOL_PATTERN``; 0 for
    empty text.  Counted with ``regexp_count`` — no intermediate string
    copy (the replace-and-measure formulation allocates a second string
    per row, which is pure memory-bandwidth waste at scale)."""
    n = f"length({t})"
    return (
        f"CASE WHEN coalesce({n}, 0) = 0 THEN 0.0D "
        f"ELSE regexp_count({t}, {string(SYMBOL_PATTERN)}) / CAST({n} AS DOUBLE) END"
    )


def boilerplate_hit(t: str, prefixes: tuple[str, ...]) -> str:
    """Whether ``t`` starts, after whitespace, with one of ``prefixes``
    (case-insensitive, each prefix matched literally)."""
    if not prefixes:
        return "FALSE"
    alt = "|".join(_re.escape(p) for p in prefixes)
    pattern = rf"(?i)^\s*({alt})"
    return f"coalesce({t} RLIKE {string(pattern)}, FALSE)"


def heuristic_columns(t: str, cfg: FilterConfig) -> list[str]:
    """``selectExpr`` items adding n_chars, symbol ratio and boilerplate
    flag for the text column ``t`` (SQL).  n_words and repetition_ratio
    come from the fused scorer UDF (``perplexity.make_scorer_udf``),
    which computes them from the byte buffer it already holds, so the
    JVM never splits words.

    Like langid/perplexity, the character-class features are
    computed over ``scored_prefix``: quality ratios estimated from a
    bounded prefix are statistically equivalent for filtering, and the
    bound is what keeps per-row cost O(1) when a mega-turn shows up at
    100 TB.  Only ``n_chars`` (which drives the too_short/too_long
    length gates) always sees the full text."""
    return [
        f"coalesce(length({t}), 0) AS n_chars",
        f"{symbol_ratio(scored_prefix(t, cfg))} AS symbol_ratio",
        f"{boilerplate_hit(t, cfg.boilerplate_prefixes)} AS boilerplate",
    ]


def heuristic_drop_reasons(cfg: FilterConfig) -> list[tuple[str, str]]:
    """(reason, fail condition as SQL) pairs over the columns added by
    ``heuristic_columns`` and the scorer's word stats."""
    return [
        ("too_short", f"n_chars < {number(cfg.min_chars)}"),
        ("too_long", f"n_chars > {number(cfg.max_chars)}"),
        ("too_few_words", f"n_words < {number(cfg.min_words)}"),
        ("high_repetition", f"repetition_ratio > {number(cfg.max_repetition_ratio)}"),
        ("high_symbol_ratio", f"symbol_ratio > {number(cfg.max_symbol_ratio)}"),
        ("boilerplate", "boilerplate"),
    ]
