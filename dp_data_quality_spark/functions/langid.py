"""Hermetic fastText-style language ID: hashed char-trigram Naive Bayes.

The model is trained deterministically at import time from the synthetic
language vocabularies (no external artifacts, no RNG): per language,
trigram counts over the vocabulary corpus are hashed into 2¹⁶ buckets and
smoothed into log-probabilities — the same hashed-n-gram trick fastText
uses, sized for a sandbox.

Scoring runs inside the fused scorer UDF (``perplexity.make_scorer_udf``):
texts are NUL-concatenated into one byte buffer (``ngram.encode_batch``,
a per-row Python loop), then bucket gathers and ``np.add.reduceat``
produce per-row per-language log-likelihoods with no per-row Python.
The (L × 65536) table is shipped to executors once via
``SparkContext.broadcast``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..synth import LANG_VOCAB
from . import ngram

NGRAM = 3
LANGS = tuple(sorted(LANG_VOCAB))  # deterministic order
_ALPHA = 0.05  # add-alpha smoothing


def _train_table() -> np.ndarray:
    """(n_langs, N_BUCKETS) float32 log P(bucket | lang)."""
    table = np.zeros((len(LANGS), ngram.N_BUCKETS), dtype=np.float64)
    for li, lang in enumerate(LANGS):
        # corpus: every vocab word in several joined orders so word-boundary
        # trigrams (space transitions) are represented
        words = LANG_VOCAB[lang]
        corpus = " ".join(words) + ". " + " ".join(reversed(words)) + "."
        buf = np.frombuffer(corpus.encode("utf-8"), dtype=np.uint8)
        idx = ngram.hash_ngrams(buf, NGRAM)
        counts = np.bincount(idx, minlength=ngram.N_BUCKETS).astype(np.float64)
        probs = (counts + _ALPHA) / (counts.sum() + _ALPHA * ngram.N_BUCKETS)
        table[li] = np.log(probs)
    return table.astype(np.float32)


# The float32-rounded log-probabilities, stored as float64: the scorer
# gathers each language's row and sums it in float64 with no cast (see
# ngram.rowwise_ngram_stats).
_TABLE = _train_table().astype(np.float64)


def score_batch(texts: pd.Series, table: np.ndarray) -> pd.DataFrame:
    """Vectorized batch scorer → DataFrame(lang, lang_conf)."""
    buf, offsets, lengths = ngram.encode_batch(texts.tolist())
    return score_from_buffer(buf, offsets, lengths, table)


def score_from_buffer(buf, offsets, lengths, table: np.ndarray) -> pd.DataFrame:
    """Buffer-level scorer — lets the fused UDF share one encode pass."""
    sums, counts = ngram.rowwise_ngram_stats(buf, offsets, NGRAM, table)
    counts = np.maximum(counts, 1)
    mean_ll = sums / counts[:, None]                       # (rows, L)
    # softmax over languages on mean log-likelihood per trigram
    m = mean_ll.max(axis=1, keepdims=True)
    p = np.exp((mean_ll - m) * 3.0)                        # temperature sharpens
    p /= p.sum(axis=1, keepdims=True)
    best = p.argmax(axis=1)
    conf = p[np.arange(len(best)), best]
    langs = np.array(LANGS, dtype=object)[best]
    # too little signal (< NGRAM chars or null) → undetermined
    und = lengths < NGRAM
    langs[und] = "und"
    conf[und] = 0.0
    return pd.DataFrame({"lang": langs, "lang_conf": conf})
