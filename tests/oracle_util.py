"""Slow, obviously-correct pure-Python oracle for the quality-filter
pipeline (test-only).  Re-implements the keep/drop decision and the scrub
chain row-by-row with Python ``re`` — an independent regex engine from
the JVM hot path — so byte-identical agreement is a real check.
"""

from __future__ import annotations

import math
import re

import pandas as pd

from dp_data_quality_spark.config import FilterConfig
from dp_data_quality_spark.functions.langid import _TABLE as LANG_TABLE
from dp_data_quality_spark.functions.langid import score_batch
from dp_data_quality_spark.functions.perplexity import _TABLE as PPL_TABLE
from dp_data_quality_spark.functions.perplexity import ppl_batch
from dp_data_quality_spark.rules import regexes as rx

_SCRUB = [
    (re.compile(rx.SCRUB_EMAIL), "<EMAIL>"),
    (re.compile(rx.SCRUB_SSN), "<SSN>"),
    (re.compile(rx.SCRUB_PHONE), "<PHONE>"),
    (re.compile(rx.SCRUB_IPV4), "<IP>"),
]


def scrub_oracle(
    text: str | None, lexicon: tuple[str, ...], pii: bool = True
) -> str | None:
    if text is None:
        return None
    out = text
    for pat, token in _SCRUB if pii else ():
        out = pat.sub(token, out)
    if lexicon:
        tox = re.compile(r"\b(" + "|".join(re.escape(w) for w in lexicon) + r")\b", re.I)
        out = tox.sub("<TOX>", out)
    return out


def decide_oracle(text: str | None, cfg: FilterConfig) -> tuple[bool, list[str], str | None]:
    """Return (keep, drop_reasons, scrubbed_text) for one turn."""
    reasons: list[str] = []
    if text is None:
        return False, ["null_text"], None

    scored_text = text[: cfg.score_prefix_chars] if cfg.score_prefix_chars else text
    lang_df = score_batch(pd.Series([scored_text]), LANG_TABLE)
    lang, conf = lang_df.lang[0], float(lang_df.lang_conf[0])
    ppl = float(ppl_batch(pd.Series([scored_text]), PPL_TABLE)[0])

    if not (lang in cfg.expected_langs and conf >= cfg.lang_conf_min):
        reasons.append("lang_mismatch")
    if ppl > cfg.ppl_max:
        reasons.append("high_perplexity")

    n_chars = len(text)
    # word/symbol features are computed on the same bounded prefix as the
    # engine (the scorer UDF in pipeline.score_turns and
    # heuristics.heuristic_columns); n_chars on the full text.
    # Word stats use the engine's byte-level contract (functions/ngram.py
    # rowwise_word_stats): ASCII-whitespace splitting, distinctness by the
    # 31-polynomial 32-bit hash — reimplemented here per row, slowly.
    ws = set(b" \t\n\x0b\f\r")
    word_bytes: list[bytes] = []
    cur = bytearray()
    for byte in scored_text.encode("utf-8", "ignore"):
        if byte in ws:
            if cur:
                word_bytes.append(bytes(cur))
                cur = bytearray()
        else:
            cur.append(byte)
    if cur:
        word_bytes.append(bytes(cur))
    n_words = len(word_bytes)
    hashes = {
        sum(b * pow(31, i, 2**32) for i, b in enumerate(w)) % 2**32
        for w in word_bytes
    }
    rep = 0.0 if n_words == 0 else 1.0 - len(hashes) / n_words
    n_prefix = len(scored_text)
    sym = (
        0.0
        if n_prefix == 0
        else sum(1 for ch in scored_text if not (ch.isalnum() or ch.isspace())) / n_prefix
    )
    boiler = any(
        re.match(r"\s*" + re.escape(p), text, re.I) for p in cfg.boilerplate_prefixes
    )
    if n_chars < cfg.min_chars:
        reasons.append("too_short")
    if n_chars > cfg.max_chars:
        reasons.append("too_long")
    if n_words < cfg.min_words:
        reasons.append("too_few_words")
    if rep > cfg.max_repetition_ratio:
        reasons.append("high_repetition")
    if sym > cfg.max_symbol_ratio:
        reasons.append("high_symbol_ratio")
    if boiler:
        reasons.append("boilerplate")

    keep = not reasons
    scrubbed = scrub_oracle(text, cfg.toxicity_lexicon, cfg.scrub_pii) if keep else None
    return keep, reasons, scrubbed


def f1(tp: int, fp: int, fn: int) -> float:
    if tp == 0:
        return 0.0
    p = tp / (tp + fp)
    r = tp / (tp + fn)
    return 2 * p * r / (p + r) if (p + r) else math.nan
