"""KenLM-style n-gram perplexity, hermetic and broadcast.

A byte 4-gram language model trained deterministically at import on the
synthetic English corpus (hashed into 2¹⁶ buckets with add-alpha
smoothing, the same scheme a hashed KenLM-lite would use).  Per turn:

    ppl = exp(-mean log P(4-gram))

Fluent in-domain text scores low; gibberish / symbol soup / foreign text
scores high.  Scoring shares the NUL-concatenated-buffer path with
langid (functions/ngram.py): Arrow batches in, then numpy kernels with
no per-row Python.  Building the buffer (``ngram.encode_batch``) still
loops over the rows in Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..synth import LANG_VOCAB
from . import ngram

NGRAM = 4
_ALPHA = 0.1
PPL_UNSCORABLE = 1e9  # texts shorter than one n-gram


def table_from_counts(counts: np.ndarray) -> np.ndarray:
    """Add-alpha normalize an (N_BUCKETS,) count vector into the float32
    log-prob table the scorer broadcasts.  Pure float64 arithmetic over
    exact integer counts, so any two trainings that agree on counts
    agree bit-for-bit on the table (the distributed-parity invariant)."""
    counts = counts.astype(np.float64)
    probs = (counts + _ALPHA) / (counts.sum() + _ALPHA * ngram.N_BUCKETS)
    return np.log(probs).astype(np.float32)


def _train_table() -> np.ndarray:
    """(N_BUCKETS,) float32 log P(bucket) for English."""
    words = LANG_VOCAB["en"]
    corpus = " ".join(words) + ". " + " ".join(reversed(words)) + "."
    buf = np.frombuffer(corpus.encode("utf-8"), dtype=np.uint8)
    idx = ngram.hash_ngrams(buf, NGRAM)
    return table_from_counts(np.bincount(idx, minlength=ngram.N_BUCKETS))


def train_table_distributed(df, text_col: str = "text") -> np.ndarray:
    """Train the hashed byte-4-gram log-prob table FROM a corpus
    DataFrame, distributed — the in-engine counterpart of the hermetic
    import-time model, so the pipeline's fluency gate can be fit on the
    data it will filter (the KenLM-style train step of the north rule).

    Each Arrow batch runs the same ``encode_batch``/``hash_ngrams``
    kernel the scorer uses and emits its non-zero (bucket, cnt) partial
    histogram; one map-side-combinable groupBy sums them (≤ N_BUCKETS
    rows per task cross the shuffle, independent of corpus size), and
    the driver collects at most N_BUCKETS = 2¹⁶ rows — model-sized, not
    data-sized — to finish the add-alpha normalize.  Counts are exact
    integers, so the result is bit-identical to a single-process
    training over the same rows regardless of partitioning (pytest
    parity-gated)."""
    def emit(batches):
        for pdf in batches:
            buf, _offsets, _lengths = ngram.encode_batch(pdf[text_col].tolist())
            c = ngram.bucket_counts(buf, NGRAM)
            nz = np.flatnonzero(c)
            if nz.size:
                yield pd.DataFrame({"bucket": nz.astype("int32"), "cnt": c[nz]})

    rows = (
        df.select(text_col)
        .mapInPandas(emit, schema="bucket int, cnt long")
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    )
    counts = np.zeros(ngram.N_BUCKETS, dtype=np.int64)
    for r in rows:
        counts[r["bucket"]] = r["cnt"]
    return table_from_counts(counts)


_TABLE = _train_table()


def ppl_batch(texts: pd.Series, table: np.ndarray) -> pd.Series:
    buf, offsets, lengths = ngram.encode_batch(texts.tolist())
    return ppl_from_buffer(buf, offsets, table)


def ppl_from_buffer(buf, offsets, table: np.ndarray) -> pd.Series:
    sums, counts = ngram.rowwise_ngram_stats(buf, offsets, NGRAM, table)
    ppl = np.full(len(offsets), PPL_UNSCORABLE, dtype=np.float64)
    scorable = counts > 0
    ppl[scorable] = np.exp(-sums[scorable] / counts[scorable])
    return pd.Series(ppl)


# --- fused scorer: one Arrow transfer, one UTF-8 encode pass --------------
# langid + perplexity + word statistics (n_words, repetition ratio) all
# read the same NUL-separated byte buffer; the JVM never splits words.
_FUSED_TYPE = T.StructType([
    T.StructField("lang", T.StringType()),
    T.StructField("lang_conf", T.DoubleType()),
    T.StructField("ppl", T.DoubleType()),
    T.StructField("n_words", T.IntegerType()),
    T.StructField("repetition_ratio", T.DoubleType()),
])


def make_scorer_udf(spark: SparkSession, ppl_table: np.ndarray | None = None):
    """Single pandas UDF returning struct<lang, lang_conf, ppl, n_words,
    repetition_ratio> — the text crosses the JVM↔Arrow boundary once per
    batch and is UTF-8-encoded once per batch.  ``ppl_table`` overrides
    the import-time hermetic model with a corpus-trained one
    (``train_table_distributed``)."""
    from .langid import _TABLE as LANG_TABLE
    from .langid import score_from_buffer

    bc_lang = spark.sparkContext.broadcast(LANG_TABLE)
    bc_ppl = spark.sparkContext.broadcast(_TABLE if ppl_table is None else ppl_table)

    @F.pandas_udf(_FUSED_TYPE)
    def scorer_udf(texts: pd.Series) -> pd.DataFrame:
        buf, offsets, lengths = ngram.encode_batch(texts.tolist())
        out = score_from_buffer(buf, offsets, lengths, bc_lang.value)
        out["ppl"] = ppl_from_buffer(buf, offsets, bc_ppl.value)
        n_words, n_distinct = ngram.rowwise_word_stats(buf, offsets)
        out["n_words"] = n_words.astype("int32")
        rep = np.where(n_words > 0, 1.0 - n_distinct / np.maximum(n_words, 1), 0.0)
        out["repetition_ratio"] = rep
        return out

    return scorer_udf
