"""Unit tests for the scrub chain (byte-exact golden strings), the langid
scorer, the perplexity scorer and its distributed table training."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from dp_data_quality_spark.config import FilterConfig
from dp_data_quality_spark.functions import ngram
from dp_data_quality_spark.functions.langid import _TABLE as LT
from dp_data_quality_spark.functions.langid import score_batch
from dp_data_quality_spark.functions.perplexity import (
    NGRAM,
    PPL_UNSCORABLE,
    _TABLE as PT,
    make_scorer_udf,
    ppl_batch,
    table_from_counts,
    train_table_distributed,
)
from dp_data_quality_spark.functions.scrub import scrub_text

LEX = FilterConfig().toxicity_lexicon

GOLDEN_SCRUBS = [
    ("mail alice.smith@example.com now", "mail <EMAIL> now"),
    ("call 303-555-1234 today", "call <PHONE> today"),
    ("call (720) 555-9876 today", "call <PHONE> today"),
    ("call +1 415-555-2468 today", "call <PHONE> today"),
    ("ssn 123-45-6789 leaked", "ssn <SSN> leaked"),
    ("host 192.168.1.100 down", "host <IP> down"),
    ("ipv4 8.8.8.8.", "ipv4 <IP>."),
    ("you frakking fool", "you <TOX> fool"),
    ("you FRAKKING fool", "you <TOX> fool"),          # case-insensitive
    ("Frakkingly fine", "Frakkingly fine"),           # word boundary respected
    ("two bob-jones@mail.example.org and 10.0.42.7", "two <EMAIL> and <IP>"),
    # SSN scrubbed before the phone pattern could partially eat it
    ("123-45-6789", "<SSN>"),
    ("no pii here", "no pii here"),
    ("", ""),
]


def test_scrub_golden_bytes(spark):
    df = spark.createDataFrame([(t,) for t, _ in GOLDEN_SCRUBS], ["text"])
    out = df.select(scrub_text(F.col("text"), LEX).alias("s")).collect()
    got = [r.s for r in out]
    want = [w for _, w in GOLDEN_SCRUBS]
    assert got == want


def test_scrub_null_passthrough(spark):
    df = spark.createDataFrame([(None,)], "text string")
    assert df.select(scrub_text(F.col("text"), LEX).alias("s")).first().s is None


def test_langid_discriminates():
    out = score_batch(pd.Series([
        "the quick brown fox jumps over the lazy dog near the quiet valley",
        "le renard brun saute par dessus la vallée tranquille du matin",
        "der schnelle braune fuchs springt über das stille tal am morgen",
        "el zorro marrón salta sobre el valle tranquilo de la mañana",
    ]), LT)
    assert list(out.lang) == ["en", "fr", "de", "es"]
    assert (out.lang_conf > 0.9).all()


def test_langid_und_for_tiny_or_null():
    out = score_batch(pd.Series(["", None, "ab"]), LT)
    assert list(out.lang) == ["und"] * 3
    assert (out.lang_conf == 0.0).all()


def test_ppl_ordering():
    ppl = ppl_batch(pd.Series([
        "the quick brown fox jumps over the lazy dog",   # fluent in-domain
        "@#$%^&*! @#$%^&*! zzqx jkwv",                    # gibberish
        "",                                               # unscorable
    ]), PT)
    assert ppl[0] < ppl[1]
    assert ppl[2] == PPL_UNSCORABLE


def test_udfs_run_in_spark(spark):
    df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",), (None,)], ["text"]
    )
    scorer = make_scorer_udf(spark)
    rows = [r.s for r in df.select(scorer("text").alias("s")).collect()]
    assert rows[0].lang == "en" and rows[0].ppl < PPL_UNSCORABLE
    assert rows[0].n_words == 9
    assert rows[1].lang == "und" and rows[1].ppl == PPL_UNSCORABLE
    assert rows[1].n_words == 0


def test_train_table_distributed_matches_local(spark):
    """Distributed training is bit-identical to single-process numpy
    counting over the same rows, regardless of partitioning."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        None,
        "",
        "short",
        "sphinx of black quartz judge my vow " * 3,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")

    buf, _off, _len = ngram.encode_batch(texts)
    local_counts = ngram.bucket_counts(buf, NGRAM)
    expected = table_from_counts(local_counts)

    for parts in (1, 5):
        got = train_table_distributed(df.repartition(parts))
        assert got.dtype == np.float32
        assert np.array_equal(got, expected)


def test_trained_table_drives_scorer(spark):
    """score_turns accepts a corpus-trained ppl table: in-domain text
    scores lower perplexity under a model trained on it than under the
    hermetic import-time model trained on unrelated vocabulary."""
    from dp_data_quality_spark.pipeline import score_turns

    corpus = ["alpha beta gamma delta epsilon zeta " * 4] * 8
    cdf = spark.createDataFrame([(t,) for t in corpus], "text string")
    table = train_table_distributed(cdf)

    turns = spark.createDataFrame(
        [("c1", 0, "user", "alpha beta gamma delta epsilon zeta", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    ppl_trained = score_turns(turns, spark, ppl_table=table).collect()[0]["ppl"]
    ppl_default = score_turns(turns, spark).collect()[0]["ppl"]
    assert ppl_trained < ppl_default
