"""Vectorized quality heuristics — pure Column expressions, no UDFs.

These are the engine's quality gates beyond the reference contract
(north rule: repetition ratio, symbol/word ratio, min/max length,
boilerplate detection).  Everything here whole-stage-codegens.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import FilterConfig


def symbol_ratio(text: Column) -> Column:
    """Fraction of characters that are neither alphanumeric (incl. unicode
    letters) nor whitespace; 0 for empty text.  Counted with
    ``regexp_count`` — no intermediate string copy (the replace-and-
    measure formulation allocates a second string per row, which is pure
    memory-bandwidth waste at scale)."""
    n = F.length(text)
    symbols = F.regexp_count(text, F.lit(r"[^\p{L}\p{N}\s]"))
    return F.when(F.coalesce(n, F.lit(0)) == 0, F.lit(0.0)).otherwise(
        symbols / n.cast("double")
    )


def boilerplate_hit(text: Column, prefixes: tuple[str, ...]) -> Column:
    if not prefixes:
        return F.lit(False)
    alt = "|".join(_re.escape(p) for p in prefixes)
    return F.coalesce(text.rlike(rf"(?i)^\s*({alt})"), F.lit(False))


def add_heuristic_columns(df: DataFrame, text_col: str, cfg: FilterConfig) -> DataFrame:
    """One projection adding n_chars, symbol ratio and boilerplate flag.
    n_words and repetition_ratio come from the fused scorer UDF
    (``perplexity.make_scorer_udf``), which computes them from the byte
    buffer it already holds, so the JVM never splits words.

    Like langid/perplexity, the character-class features are
    computed over the first ``cfg.score_prefix_chars`` characters (the
    whole text when 0): quality ratios estimated from a bounded prefix
    are statistically equivalent for filtering, and the bound is what
    keeps per-row cost O(1) when a mega-turn shows up at 100 TB.  Only
    ``n_chars`` (which drives the too_short/too_long length gates) always
    sees the full text."""
    t = F.col(text_col)
    pt = (
        F.substring(t, 1, cfg.score_prefix_chars)
        if cfg.score_prefix_chars
        else t
    )
    return df.select(
        "*",
        F.coalesce(F.length(t), F.lit(0)).alias("n_chars"),
        symbol_ratio(pt).alias("symbol_ratio"),
        boilerplate_hit(t, cfg.boilerplate_prefixes).alias("boilerplate"),
    )


def heuristic_drop_reasons(cfg: FilterConfig) -> list[tuple[str, Column]]:
    """(reason, fail_expr) pairs over the columns added by
    add_heuristic_columns and the scorer's word stats; evaluated in the
    same wide select as the contract rules."""
    return [
        ("too_short", F.col("n_chars") < cfg.min_chars),
        ("too_long", F.col("n_chars") > cfg.max_chars),
        ("too_few_words", F.col("n_words") < cfg.min_words),
        ("high_repetition", F.col("repetition_ratio") > cfg.max_repetition_ratio),
        ("high_symbol_ratio", F.col("symbol_ratio") > cfg.max_symbol_ratio),
        ("boilerplate", F.col("boilerplate")),
    ]
