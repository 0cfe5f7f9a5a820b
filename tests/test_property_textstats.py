"""Hypothesis property tests: the string-arithmetic word kernels in
ops/textstats must agree with the list semantics (split → filter empty)
that the DuckDB oracle uses, for ARBITRARY ASCII text — including the
edge case that motivated them: text edged with tabs/newlines, where
``normalize_text``'s space-only trim leaves ' a b ' and naive
spaces+1 arithmetic over-counts. ops/dedup's duplicated-span merging
is checked against a sliding-window reference over the same word split.

Each hypothesis example is ONE batched Spark job over the whole list of
generated strings (never a job per string).
"""

from __future__ import annotations

import re
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dp_data_quality_spark.ops import textstats as TS

# printable ASCII plus the Java-\s whitespace set (tab/newline/vtab/ff/cr)
ALPHABET = st.characters(min_codepoint=32, max_codepoint=126)
TEXTS = st.lists(
    st.text(alphabet=st.one_of(ALPHABET, st.sampled_from("\t\n\x0b\f\r")),
            max_size=60),
    min_size=1,
    max_size=40,
)

JAVA_WS = " \t\n\x0b\f\r"


def _norm_py(s: str) -> str:
    # Spark normalize_text: regexp_replace(lower(trim(c)), '\s+', ' ') —
    # trim strips 0x20 only; Java \s is the ASCII whitespace class.
    t = s.strip(" ").lower()
    return re.sub(f"[{JAVA_WS}]+", " ", t)


def _words_py(s: str) -> list[str]:
    return [w for w in _norm_py(s).split(" ") if w]


def _lang_guess_py(s: str) -> str:
    ws = _words_py(s)
    best_lang, best_h = None, 0
    for lang in TS.LANG_ORDER:
        h = sum(1 for w in ws if w in TS.STOPWORDS[lang])
        if best_lang is None or h > best_h:
            best_lang, best_h = lang, h
    return best_lang if best_h > 0 else "und"


@settings(max_examples=8, deadline=None)
@given(TEXTS)
def test_word_kernels_match_list_semantics(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, t string")
    c = F.col("t")
    got = {
        r.i: r
        for r in df.select(
            "i",
            TS.word_count(c).alias("nw"),
            TS.mean_word_len(c).alias("mwl"),
            TS.stopword_hits(c, "en").alias("sh"),
            TS.lang_guess(c).alias("lg"),
            TS.token_count(c).alias("tok"),
        ).collect()
    }
    token_re = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9" + JAVA_WS + "]")
    for i, t in enumerate(texts):
        ws = _words_py(t)
        r = got[i]
        assert r.nw == len(ws), (t, r.nw, ws)
        exp_mwl = (sum(map(len, ws)) / len(ws)) if ws else 0.0
        assert abs(r.mwl - exp_mwl) < 1e-9, (t, r.mwl, exp_mwl)
        assert r.sh == sum(1 for w in ws if w in TS.STOPWORDS["en"]), (t, r.sh)
        assert r.lg == _lang_guess_py(t), (t, r.lg)
        assert r.tok == len(token_re.findall(t)), (t, r.tok)


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("ab c"), min_size=0, max_size=30).map("".join),
        min_size=1,
        max_size=12,
    )
)
def test_duplicated_spans_property(spark, texts):
    """Gaps-and-islands span merging under a tiny alphabet (duplicates
    are dense, so island boundaries — adjacent, overlapping, exactly
    k-apart — are all exercised) must match the pure-Python
    sliding-window reference."""
    from dp_data_quality_spark.ops import dedup as D

    K = 3
    rows = list(enumerate(texts))
    gram_count = Counter()
    words_by_doc = {}
    for did, t in rows:
        ws = _words_py(t)
        words_by_doc[did] = ws
        for p in range(len(ws) - K + 1):
            gram_count[tuple(ws[p : p + K])] += 1
    ref = set()
    for did, _ in rows:
        ws = words_by_doc[did]
        hits = [
            p
            for p in range(len(ws) - K + 1)
            if gram_count[tuple(ws[p : p + K])] >= 2
        ]
        spans = []
        for p in hits:
            if spans and p - spans[-1][1] <= K:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        ref |= {(did, s, e - s + K) for s, e in spans}

    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in D.duplicated_spans(df, k=K).collect()
    }
    assert got == ref
