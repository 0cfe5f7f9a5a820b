"""Hypothesis property test: the fused scorer UDF gives a row the same
lang, lang_conf, ppl, n_words and repetition_ratio, bit for bit, whatever
other rows share its Arrow batch.  Shuffle fetch order decides batch
composition, so without this the written output would not be a pure
function of the input.  The function runs on the driver, one call per
batch."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dp_data_quality_spark import synth
from dp_data_quality_spark.functions.perplexity import make_scorer_udf

WORDS = sorted({w for vocab in synth.LANG_VOCAB.values() for w in vocab})
SCORE_COLUMNS = ["lang", "lang_conf", "ppl", "n_words", "repetition_ratio"]

TEXT = st.one_of(
    st.none(),
    st.text(max_size=40),                                   # any unicode, empty
    st.lists(st.sampled_from(WORDS), max_size=300).map(" ".join),  # up to ~2k chars
)


@pytest.fixture(scope="module")
def score(spark):
    return make_scorer_udf(spark).func


@settings(max_examples=25, deadline=None)
@given(
    rows=st.lists(TEXT, min_size=1, max_size=12),
    before=st.lists(TEXT, max_size=60),
    after=st.lists(TEXT, max_size=20),
)
def test_scores_do_not_depend_on_batch_composition(score, rows, before, after):
    alone = score(pd.Series(rows, dtype=object))
    mixed = score(pd.Series(before + rows + after, dtype=object))
    mixed = mixed.iloc[len(before):len(before) + len(rows)].reset_index(drop=True)
    pd.testing.assert_frame_equal(alone[SCORE_COLUMNS], mixed[SCORE_COLUMNS], check_exact=True)
