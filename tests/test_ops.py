"""Unit tests for the training-data pipeline operators (ops/)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from dp_data_quality_spark.ops import dedup as D
from dp_data_quality_spark.ops import textstats as TS
from dp_data_quality_spark.ops.hashing import MERSENNE_P, h32, h60


# --- hashing -------------------------------------------------------------

def test_h32_h60_match_hashlib(spark):
    df = spark.createDataFrame([("hello",), ("wörld",)], "s string").select(
        "s", h32(F.col("s")).alias("h32"), h60(F.col("s")).alias("h60")
    )
    for r in df.collect():
        hx = hashlib.md5(r.s.encode()).hexdigest()
        assert r.h32 == int(hx[:8], 16)
        assert r.h60 == int(hx[:15], 16)
        assert 0 <= r.h60 < 2**60


# --- dedup ---------------------------------------------------------------

@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),       # exact dup of 1
        (3, "THE  quick Brown fox jumps over the lazy dog "),     # normalizes to dup of 1
        (4, "the quick brown fox jumps over the lazy cat today"), # near dup
        (5, "completely different text about query engines here"),
        (6, "ok"),                                                # too short for shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicate_groups(docs):
    groups = D.exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g.group_size == 3 and g.keep_id == 1
    assert sorted(g.member_ids) == [1, 2, 3]


def test_word_shingles_edges(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",)], "t string"
    ).select(D.word_shingles(F.col("t"), 3).alias("sh"))
    out = [r.sh for r in df.collect()]
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == []
    assert out[2] == []


def test_jaccard_pairs_find_dups(docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == 1.0
    assert (1, 5) not in pairs
    assert (4, 5) not in pairs


def test_minhash_lsh_agrees_with_exact(docs):
    exact = {(r.doc_a, r.doc_b) for r in
             D.ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in
           D.minhash_lsh_pairs(docs, threshold=0.8).collect()}
    # identical docs share every band → LSH recall 1.0 on true dups
    assert lsh == exact
    assert (1, 2) in lsh


def test_minhash_signature_values(spark, docs):
    """Signature = min over shingles of (a*(h32 % P) + b) % P — verified
    against a pure-Python recomputation."""
    from dp_data_quality_spark.ops.hashing import MINHASH_COEFFS

    sig_row = D.minhash_signatures(docs).filter("doc_id = 5").collect()[0]
    text = "completely different text about query engines here"
    words = text.split()
    shingles = {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}
    hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles]
    for i, (a, b) in enumerate(MINHASH_COEFFS):
        expect = min((a * (x % MERSENNE_P) + b) % MERSENNE_P for x in hs)
        assert sig_row[f"sig_{i}"] == expect


def test_benchmark_contamination(spark):
    bench = spark.createDataFrame(
        [(100, "what is the capital of france paris obviously")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # verbatim leak of the eval question
            (1, "what is the capital of france paris obviously"),
            # partial overlap (shares a 3-gram prefix)
            (2, "what is the capital city of germany"),
            # clean
            (3, "completely unrelated text about spark query planning"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           D.benchmark_contamination(corpus, bench).collect()}
    assert set(out) == {1, 2}  # doc 3 shares nothing → absent
    assert out[1].overlap_ratio == 1.0
    assert out[1].n_overlap == out[1].n_shingles
    assert 0 < out[2].overlap_ratio < 1.0
    # threshold filter
    flagged = D.benchmark_contamination(
        corpus, bench, min_overlap_ratio=0.9).collect()
    assert [r.doc_id for r in flagged] == [1]


def test_simhash_hamming(docs):
    sigs = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert sigs[1] == sigs[2]                      # identical text
    assert ham(sigs[1], sigs[4]) < ham(sigs[1], sigs[5])  # near-dup closer


def test_simhash_pairs_full_recall_at_threshold(spark):
    # chunk count derives from max_hamming (d+1 chunks, pigeonhole), so
    # simhash_pairs returns EVERY pair within the threshold — verified
    # against brute-force all-pairs Hamming on the signatures, including
    # at distance 8 (the old fixed-4-chunk scheme only guaranteed d<=3).
    base = "the quick brown fox jumps over the lazy dog near a riverbank"
    rows = [(i, base + f" extra{i % 7} tail{i % 5} mark{i}") for i in range(24)]
    rows += [(100, base), (101, base + " x"), (102, base + " x y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = {r.doc_id: r.simhash for r in D.simhash(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    ids = sorted(sigs)
    for d in (3, 8):
        expect = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
                  if ham(sigs[a], sigs[b]) <= d}
        got = {(r.doc_a, r.doc_b)
               for r in D.simhash_pairs(df, max_hamming=d).collect()}
        assert got == expect, f"d={d}"
    # a distance-8-ish planted pair must be found at d=8
    assert any(ham(sigs[a], sigs[b]) > 3 for a, b in
               {(r.doc_a, r.doc_b)
                for r in D.simhash_pairs(df, max_hamming=8).collect()})


# --- textstats -----------------------------------------------------------

def test_token_and_word_counts(spark):
    df = spark.createDataFrame([("Hello, world! x2",)], "t string").select(
        TS.word_count(F.col("t")).alias("w"),
        TS.token_count(F.col("t")).alias("tok"),
    )
    r = df.collect()[0]
    assert r.w == 3
    # Hello , world ! x 2 → 6 BPE-ish tokens
    assert r.tok == 6


def test_lang_guess_stopwords(spark):
    rows = [("the cat sat on the mat and it is that for",),
            ("le chien est dans la maison et que pour",),
            ("zzz qqq www",)]
    out = [r.g for r in spark.createDataFrame(rows, "t string")
           .select(TS.lang_guess(F.col("t")).alias("g")).collect()]
    assert out[0] == "en"
    assert out[1] == "fr"
    assert out[2] == "und"


def test_quality_score_bounds(spark):
    rows = [("the quick brown fox is a fine animal for all of it",),
            ("00000 11111 22222 33333",), ("",)]
    out = [r.q for r in spark.createDataFrame(rows, "t string")
           .select(TS.quality_score(F.col("t")).alias("q")).collect()]
    assert 0.0 <= min(out) and max(out) <= 1.0
    assert out[0] > out[1]  # prose beats digit soup


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello  World",), ("hello world",)], "t string"
    ).select(TS.fingerprint(F.col("t")).alias("fp"))
    a, b = [r.fp for r in df.collect()]
    assert a == b


# --- sources: json flatten ----------------------------------------------

def test_json_flatten_nested(spark):
    data = [
        {"id": 1, "meta": {"a": 1, "b": {"c": "x"}}, "tags": ["t1", "t2"]},
        {"id": 2, "meta": {"a": 2, "b": {"c": "y"}}, "tags": ["t3"]},
    ]
    import json as _json

    df = spark.read.json(spark.sparkContext.parallelize(
        [_json.dumps(d) for d in data]))
    from dp_data_quality_spark.sources.json_flatten import flatten, has_nested

    flat = flatten(df)
    assert not has_nested(flat)
    assert set(flat.columns) == {"id", "meta_a", "meta_b_c", "tags"}
    rows = flat.orderBy("id", "tags").collect()
    assert [r.tags for r in rows] == ["t1", "t2", "t3"]
    assert rows[0].meta_b_c == "x"


def test_json_flatten_map_per_key_columns(spark):
    # MapType flattens to per-key parent_child columns — the reference's
    # star-expansion shape (json_to_dataframe.py:103-111), NOT
    # _keys/_values arrays.  Missing keys become NULL per row.
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("props", T.MapType(T.StringType(), T.StringType())),
    ])
    df = spark.createDataFrame(
        [(1, {"color": "red", "size": "L"}), (2, {"color": "blue"}), (3, None)],
        schema,
    )
    from dp_data_quality_spark.sources.json_flatten import flatten, has_nested

    flat = flatten(df)
    assert not has_nested(flat)
    assert flat.columns == ["id", "props_color", "props_size"]
    rows = {r.id: r for r in flat.collect()}
    assert (rows[1].props_color, rows[1].props_size) == ("red", "L")
    assert (rows[2].props_color, rows[2].props_size) == ("blue", None)
    assert (rows[3].props_color, rows[3].props_size) == (None, None)

    # nested map values keep flattening recursively
    schema2 = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("m", T.MapType(
            T.StringType(),
            T.StructType([T.StructField("v", T.LongType())]),
        )),
    ])
    df2 = spark.createDataFrame([(1, {"k": (7,)})], schema2)
    flat2 = flatten(df2)
    assert flat2.columns == ["id", "m_k_v"]
    assert flat2.first().m_k_v == 7

    # unbounded key domains fail loudly instead of exploding the schema
    import pytest as _pytest

    wide = spark.createDataFrame(
        [(i, {f"k{i}": "v"}) for i in range(10)], schema
    )
    with _pytest.raises(ValueError, match="distinct keys"):
        flatten(wide, max_map_keys=5)


def test_json_flatten_caller_supplied_map_keys(spark):
    # map_keys= keeps flatten fully LAZY (no distinct-keys job) with a
    # data-independent schema: listed-but-absent keys yield all-NULL
    # columns, unlisted observed keys are dropped.
    from pyspark.sql import types as T

    from dp_data_quality_spark.sources.json_flatten import flatten

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("props", T.MapType(T.StringType(), T.StringType())),
    ])
    df = spark.createDataFrame([(1, {"color": "red", "junk": "x"})], schema)
    flat = flatten(df, map_keys={"props": ["color", "size"]})
    assert flat.columns == ["id", "props_color", "props_size"]
    r = flat.first()
    assert (r.props_color, r.props_size) == ("red", None)

    # streaming inputs with map columns REQUIRE map_keys (no eager job
    # is possible on a streaming plan) ...
    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select("value", F.create_map(F.lit("k"), F.col("value")).alias("m"))
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="streaming"):
        flatten(sdf)
    # ... and succeed lazily when supplied
    sflat = flatten(sdf, map_keys={"m": ["k"]})
    assert sflat.isStreaming and sflat.columns == ["value", "m_k"]


def test_add_text_stats_preserves_caller_dunder_columns(spark):
    from dp_data_quality_spark.ops.textstats import add_text_stats

    df = spark.createDataFrame(
        [("hello world", 7)], "text string, __mine int"
    )
    out = add_text_stats(df)
    assert "__mine" in out.columns
    assert out.first()["__mine"] == 7


# --- timeseries ----------------------------------------------------------

def test_asof_join_matches_pandas_merge_asof(spark):
    import pandas as pd

    from dp_data_quality_spark.ops.timeseries import asof_join

    left = spark.createDataFrame(
        [(1, "u1", 100), (2, "u1", 200), (3, "u2", 50), (4, "u3", 10)],
        "lid long, k string, t long",
    )
    right = spark.createDataFrame(
        # u1: rows at 100 (tie with left 1, at-or-before matches),
        # two rows at 150 (greatest rid wins); u2 only after t=50
        [(10, "u1", 100), (11, "u1", 150), (12, "u1", 150), (13, "u2", 60)],
        "rid long, k string, t long",
    )
    out = asof_join(left, right, on=["k"], ts_col="t",
                    payload=["rid", "t"], tie_col="rid", prefix="m_")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    got = {r.lid: (r.m_rid, r.m_t) for r in out.collect()}
    assert got[1] == (10, 100)     # at-or-before includes equal ts
    assert got[2] == (12, 150)     # greatest tie wins among equal ts
    assert got[3] == (None, None)  # no right row at-or-before
    assert got[4] == (None, None)  # key never seen on the right

    # cross-check the non-tie rows against pandas merge_asof semantics
    lp = pd.DataFrame({"k": ["u1", "u2", "u3"], "t": [200, 50, 10],
                       "lid": [2, 3, 4]}).sort_values("t")
    rp = pd.DataFrame({"k": ["u1", "u1", "u2"], "t": [100, 150, 60],
                       "rid": [10, 11, 12]}).sort_values("t")
    m = pd.merge_asof(lp, rp, on="t", by="k", direction="backward")
    pd_match = {int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
                for r in m.itertuples()}
    assert pd_match[3] is None and pd_match[4] is None
    assert got[2][0] in (11, 12)  # both are valid asof rows at t=150


def test_profile_table_stats(spark):
    from dp_data_quality_spark.ops.profiling import profile_table

    df = spark.createDataFrame(
        [("a", 1), ("b", None), ("a", 3), (None, 3)],
        "s string, v int",
    )
    out = {r.col_name: r for r in profile_table(df).collect()}
    assert out["s"].n_rows == 4 and out["s"].n_nulls == 1
    assert out["s"].n_distinct == 2 and out["s"].completeness == 0.75
    assert (out["s"].min_val, out["s"].max_val) == ("a", "b")
    assert out["v"].n_nulls == 1 and out["v"].n_distinct == 2
    assert (out["v"].min_val, out["v"].max_val) == ("1", "3")


def test_profile_approx_distinct_and_quantiles(spark):
    import numpy as np

    from dp_data_quality_spark.ops.profiling import (
        profile_quantiles,
        profile_table,
    )

    vals = [(float(i % 97),) for i in range(2000)]
    df = spark.createDataFrame(vals, "v double")
    approx = {r.col_name: r for r in
              profile_table(df, exact_distinct=False).collect()}
    # HLL++ default rsd 5% — allow generous slack on 97 true distincts
    assert abs(approx["v"].n_distinct - 97) <= 15

    q = profile_quantiles(df, ["v"]).collect()[0]
    arr = np.array([v[0] for v in vals])
    # Spark percentile == numpy linear interpolation
    for attr, p in (("q_25", 0.25), ("q_50", 0.5), ("q_75", 0.75)):
        assert abs(getattr(q, attr) - float(np.quantile(arr, p))) < 1e-6


def test_profile_quantiles_dist_matches_exact(spark):
    """Sketch-then-refine exact quantiles return the SAME rows as the
    single-task-sort exact path (bit-identical interpolation), on both
    branches: sketch brackets (accuracy < n) and the small-n min/max
    fallback (accuracy > n), with duplicates and nulls planted."""
    import random

    from dp_data_quality_spark.ops.profiling import (
        profile_quantiles,
        profile_quantiles_dist,
    )

    random.seed(11)
    rows = [
        (
            random.choice([None, random.uniform(-50, 50),
                           float(random.randint(0, 4))]),
            float(random.randint(0, 2)),  # heavy ties
        )
        for _ in range(5000)
    ]
    df = spark.createDataFrame(rows, "a double, b double")
    exact = sorted(map(tuple, profile_quantiles(df, ["a", "b"]).collect()))
    for acc in (500, 100000):
        dist = sorted(map(
            tuple, profile_quantiles_dist(df, ["a", "b"], accuracy=acc).collect()))
        assert dist == exact

    # 2-row edge: q_50 interpolates between the only two values
    tiny = spark.createDataFrame([(1.0,), (2.0,)], "a double")
    assert profile_quantiles_dist(tiny, ["a"]).collect()[0].q_50 == 1.5


def test_profile_quantiles_dist_refines_small_bracket(spark):
    """The refine pass sorts only the GK bracket slice, not the column:
    with accuracy=200 on 20k rows the bracket keeps well under 20% of
    the values, and the bracket filter appears as a pushed data filter
    (literal bounds), not a post-sort selection."""
    from pyspark.sql import functions as F

    from dp_data_quality_spark.ops.profiling import profile_quantiles_dist

    df = spark.range(20000).select(
        (F.col("id") % 9973).cast("double").alias("v"))
    out = profile_quantiles_dist(df, ["v"], accuracy=200)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the per-(column,p) window exists, but it must sit above a
    # literal-bounds filter — assert the bounds made it into the plan
    assert "Window" in plan
    assert ">= " in plan and "<= " in plan
    # and the bracket really is small: re-derive it via the same sketch
    br = df.agg(F.percentile_approx(
        "v", [0.25 - 0.02, 0.25 + 0.02], 200)).collect()[0][0]
    kept = df.filter((F.col("v") >= br[0]) & (F.col("v") <= br[1])).count()
    assert kept < 20000 * 0.2
    # values still exact: numpy linear interpolation over the same data
    import numpy as np

    arr = np.arange(20000) % 9973
    row = out.collect()[0]
    for attr, p in (("q_25", 0.25), ("q_50", 0.5), ("q_75", 0.75)):
        assert getattr(row, attr) == round(float(np.quantile(arr, p)), 6)


def test_asof_join_forward_direction(spark):
    from dp_data_quality_spark.ops.timeseries import asof_join

    left = spark.createDataFrame(
        [(1, "u1", 100), (2, "u1", 160), (3, "u2", 50)],
        "lid long, k string, t long",
    )
    right = spark.createDataFrame(
        # u1: rows at 100 (equal-ts, at-or-after matches), two at 150
        # (smallest rid wins forward); u2 has only an EARLIER row
        [(10, "u1", 100), (11, "u1", 150), (12, "u1", 150), (13, "u2", 40)],
        "rid long, k string, t long",
    )
    out = asof_join(left, right, on=["k"], ts_col="t",
                    payload=["rid", "t"], tie_col="rid",
                    prefix="m_", direction="forward")
    got = {r.lid: (r.m_rid, r.m_t) for r in out.collect()}
    assert got[1] == (10, 100)     # at-or-after includes equal ts
    assert got[2] == (None, None)  # nothing at-or-after 160
    assert got[3] == (None, None)  # u2's only row is before 50

    # the next row for an intermediate timestamp: smallest tie at 150
    mid = spark.createDataFrame([(9, "u1", 120)], "lid long, k string, t long")
    out2 = asof_join(mid, right, on=["k"], ts_col="t",
                     payload=["rid"], tie_col="rid",
                     prefix="m_", direction="forward")
    assert out2.collect()[0].m_rid == 11

    import pytest
    with pytest.raises(ValueError, match="backward|forward"):
        asof_join(left, right, ["k"], "t", ["rid"], "rid", direction="nearest")


def test_asof_join_null_payload_field_not_backfilled(spark):
    # The matched (nearest) right row carries its payload ATOMICALLY: a
    # NULL field in that row must stay NULL, not back-fill from an older
    # right row (pandas merge_asof returns the matched row verbatim).
    import pandas as pd

    from dp_data_quality_spark.ops.timeseries import asof_join

    left = spark.createDataFrame(
        [(1, "u1", 200), (2, "u1", 120)], "lid long, k string, t long"
    )
    right = spark.createDataFrame(
        # older row has price=9.0; the NEWER matched row (t=150) has a
        # NULL price — per-column carry-forward would leak 9.0 into lid=1
        [(10, "u1", 100, 9.0), (11, "u1", 150, None)],
        "rid long, k string, t long, price double",
    )
    out = asof_join(left, right, on=["k"], ts_col="t",
                    payload=["rid", "price"], tie_col="rid", prefix="m_")
    got = {r.lid: (r.m_rid, r.m_price) for r in out.collect()}
    assert got[1] == (11, None)   # matched row's NULL survives
    assert got[2] == (10, 9.0)

    lp = pd.DataFrame({"k": ["u1", "u1"], "t": [200, 120],
                       "lid": [1, 2]}).sort_values("t")
    rp = pd.DataFrame({"k": ["u1", "u1"], "t": [100, 150],
                       "rid": [10, 11], "price": [9.0, None]}).sort_values("t")
    m = pd.merge_asof(lp, rp, on="t", by="k", direction="backward")
    pd_got = {int(r.lid): (int(r.rid), None if pd.isna(r.price) else r.price)
              for r in m.itertuples()}
    assert pd_got == got


def test_frequent_items_ranks_and_ties(spark):
    from dp_data_quality_spark.ops.profiling import frequent_items

    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("b",), ("c",), (None,)], "s string"
    )
    out = [(r.value, r.n, r.rank) for r in
           frequent_items(df, ["s"], k=2).orderBy("rank").collect()]
    # a and b tie at 2 -> value ascending breaks the tie; null excluded
    assert out == [("a", 2, 1), ("b", 2, 2)]


def test_frequent_items_approx_finds_heavy_hitters(spark):
    from dp_data_quality_spark.ops.profiling import (
        frequent_items,
        frequent_items_approx,
    )

    # skewed domain: two heavy values + a long tail of singletons
    rows = [("hot1",)] * 400 + [("hot2",)] * 300 + [
        (f"tail{i}",) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "s string").repartition(8)
    exact = [(r.value, r.n, r.rank)
             for r in frequent_items(df, ["s"], k=2).orderBy("rank").collect()]
    # capacity=4 << 500 distinct values: the MG decrement path runs, yet
    # the heavy hitters (count >> n/(capacity+1)) must survive with
    # EXACT counts from the recount pass
    got = [(r.value, r.n, r.rank)
           for r in frequent_items_approx(df, ["s"], k=2, capacity=4)
           .orderBy("rank").collect()]
    assert got == exact == [("hot1", 400, 1), ("hot2", 300, 2)]
    # generous capacity ⇒ identical to the exact operator even on ties
    got_full = {(r.value, r.n, r.rank)
                for r in frequent_items_approx(df, ["s"], k=5, capacity=10000)
                .collect()}
    exact_full = {(r.value, r.n, r.rank)
                  for r in frequent_items(df, ["s"], k=5).collect()}
    assert got_full == exact_full


def test_deterministic_split_properties(spark):
    import pytest

    from dp_data_quality_spark.ops.sampling import deterministic_split

    df = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = deterministic_split(df, "k", fr)
    counts = {r.split: r.n for r in out.groupBy("split")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 2000 - 0.8) < 0.05  # hash-uniform
    # stable across runs and independent of partitioning
    a = {(r.k, r.split) for r in out.collect()}
    b = {(r.k, r.split)
         for r in deterministic_split(df.repartition(7), "k", fr).collect()}
    assert a == b
    with pytest.raises(ValueError, match="sum to 1"):
        deterministic_split(df, "k", {"a": 0.5, "b": 0.4})


def test_stratified_sample_exact_k_and_deterministic(spark):
    import hashlib as _hashlib

    import pytest

    from dp_data_quality_spark.ops.sampling import stratified_sample

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(300)]
    rows += [(1000, "tiny")]  # stratum smaller than k keeps all rows
    df = spark.createDataFrame(rows, "k long, g string")
    out = stratified_sample(df, ["g"], k=10, key_col="k")
    got = [(r.g, r.k, r.sample_rank) for r in out.collect()]
    per = {}
    for g, k, rank in got:
        per.setdefault(g, []).append((rank, k))
    assert {g: len(v) for g, v in per.items()} == {
        "a": 10, "b": 10, "c": 10, "tiny": 1}
    assert sorted(r for r, _ in per["a"]) == list(range(1, 11))
    # the winners are exactly the k smallest md5-hash keys per stratum —
    # recompute the hash contract in pure Python
    h = lambda v: int(_hashlib.md5(str(v).encode()).hexdigest()[:8], 16)
    for g in ("a", "b", "c"):
        keys = [k for k, gg in rows if gg == g]
        expect = sorted(keys, key=lambda k: (h(k), k))[:10]
        assert sorted(k for _, k in per[g]) == sorted(expect)
    # partitioning-independent
    again = {(r.g, r.k, r.sample_rank)
             for r in stratified_sample(df.repartition(7), ["g"], 10, "k").collect()}
    assert set(got) == again
    with pytest.raises(ValueError, match="positive"):
        stratified_sample(df, ["g"], 0, "k")


def test_temperature_sample_quota_math(spark):
    """Quotas match the largest-remainder allocation recomputed in pure
    Python integer arithmetic, sum to exactly n_total, and the per-group
    winners are the smallest md5-hash keys."""
    import hashlib as _hashlib
    import math

    from dp_data_quality_spark.ops.sampling import temperature_sample

    # skewed groups: 120 / 40 / 25 / 15
    rows = (
        [(i, "big") for i in range(120)]
        + [(200 + i, "mid") for i in range(40)]
        + [(300 + i, "small") for i in range(25)]
        + [(400 + i, "rare") for i in range(15)]
    )
    df = spark.createDataFrame(rows, "k long, g string")
    n_total = 60
    out = temperature_sample(df, "g", n_total=n_total, key_col="k")
    per: dict[str, list[int]] = {}
    for r in out.collect():
        per.setdefault(r.g, []).append(r.k)

    counts = {"big": 120, "mid": 40, "small": 25, "rare": 15}
    w = {g: math.floor(math.sqrt(float(c)) * 1_000_000.0)
         for g, c in counts.items()}
    W = sum(w.values())
    base = {g: (n_total * wg) // W for g, wg in w.items()}
    rem = {g: (n_total * wg) % W for g, wg in w.items()}
    deficit = n_total - sum(base.values())
    for i, g in enumerate(sorted(rem, key=lambda g: (-rem[g], g))):
        if i < deficit:
            base[g] += 1
    quota = {g: min(b, counts[g]) for g, b in base.items()}
    assert {g: len(v) for g, v in per.items()} == quota
    assert sum(quota.values()) == n_total
    # sqrt-tempering up-weights the rare group vs its natural share
    assert quota["rare"] / n_total > counts["rare"] / sum(counts.values())
    h = lambda v: int(_hashlib.md5(str(v).encode()).hexdigest()[:8], 16)
    for g, keys in per.items():
        pool = [k for k, gg in rows if gg == g]
        expect = sorted(pool, key=lambda k: (h(k), k))[: quota[g]]
        assert sorted(keys) == sorted(expect)
    # partitioning-independent
    again = {(r.g, r.k) for r in temperature_sample(
        df.repartition(7), "g", n_total=n_total, key_col="k").collect()}
    assert {(g, k) for g, v in per.items() for k in v} == again


def test_temperature_sample_caps_at_group_size(spark):
    """A group smaller than its quota keeps all its rows (no
    redistribution), so the total can undershoot n_total — documented."""
    from dp_data_quality_spark.ops.sampling import temperature_sample

    rows = [(i, "big") for i in range(100)] + [(500, "one")]
    df = spark.createDataFrame(rows, "k long, g string")
    out = temperature_sample(df, "g", n_total=50, key_col="k").collect()
    got = {}
    for r in out:
        got.setdefault(r.g, []).append(r.k)
    assert got["one"] == [500]  # capped at its size
    assert len(got["big"]) <= 50


def test_connected_components_chain_and_clique(spark):
    """Min-label propagation vs a pure-Python union-find: a 7-node chain
    (needs multiple propagation rounds — label 1 travels one hop per
    round), a 3-clique, and an isolated pair."""
    from dp_data_quality_spark.ops.graph import connected_components

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),
             (10, 11), (11, 12), (10, 12), (21, 20)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {(r.id, r.component_id)
           for r in connected_components(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    expect = {(n, min(members)) for members in comp.values() for n in members}
    assert got == expect
    # partitioning-independent
    again = {(r.id, r.component_id)
             for r in connected_components(pairs.repartition(5)).collect()}
    assert got == again


def test_connected_components_round_bound(spark):
    import pytest

    from dp_data_quality_spark.ops.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(chain, max_rounds=2)


def test_resolve_duplicates_canonical_election(spark):
    from dp_data_quality_spark.ops.graph import resolve_duplicates

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 9, 50)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    out = resolve_duplicates(docs, pairs)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 9, 50}
    assert [rows[i].component_id for i in (1, 2, 3)] == [1, 1, 1]
    assert [rows[i].component_size for i in (1, 2, 3)] == [3, 3, 3]
    assert [rows[i].is_canonical for i in (1, 2, 3)] == [True, False, False]
    # docs outside the pair graph are their own singleton component
    for i in (9, 50):
        assert (rows[i].component_id, rows[i].component_size,
                rows[i].is_canonical) == (i, 1, True)
    # exactly one canonical survivor per component
    kept = out.filter("is_canonical").count()
    assert kept == out.select("component_id").distinct().count() == 3


def test_strip_boilerplate_removes_frequent_lines(spark):
    from dp_data_quality_spark.ops.textstats import strip_boilerplate

    header = "COOKIE BANNER"
    docs = [(i, f"{header}\npayload {i} alpha\npayload {i} beta") for i in range(10)]
    docs.append((99, header))  # doc that is ONLY boilerplate
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in strip_boilerplate(df, max_df_frac=0.5).collect()}
    assert len(out) == 11
    for i in range(10):
        # header stripped, payload order preserved
        assert out[i].clean_text == f"payload {i} alpha\npayload {i} beta"
        assert out[i].n_removed == 1
    assert out[99].clean_text == "" and out[99].n_removed == 1
    # below-threshold lines survive untouched
    tame = strip_boilerplate(df, max_df_frac=2.0).collect()
    assert all(r.n_removed == 0 for r in tame)


def test_neardup_safe_split_keeps_clusters_together(spark):
    from dp_data_quality_spark.ops.graph import neardup_safe_split

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(40)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(i, i + 20) for i in range(20)], "doc_a long, doc_b long"
    )
    out = neardup_safe_split(docs, pairs, {"train": 0.5, "test": 0.5})
    rows = out.select("doc_id", "component_id", "split").collect()
    by_comp: dict[int, set[str]] = {}
    for r in rows:
        by_comp.setdefault(r.component_id, set()).add(r.split)
    # every near-dup cluster lands wholly in one split
    assert all(len(s) == 1 for s in by_comp.values())
    # doc i and its near-dup i+20 agree
    split_of = {r.doc_id: r.split for r in rows}
    assert all(split_of[i] == split_of[i + 20] for i in range(20))


def test_top_terms_rational_idf(spark):
    from dp_data_quality_spark.ops.textstats import top_terms

    docs = spark.createDataFrame(
        [(1, "apple banana banana"), (2, "apple cherry"), (3, "apple date date")],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.rank): r for r in top_terms(docs, k=2).collect()}
    # rarer terms outrank the ubiquitous 'apple' (df=3)
    assert out[(1, 1)].term == "banana" and out[(1, 2)].term == "apple"
    assert out[(2, 1)].term == "cherry"
    assert out[(3, 1)].term == "date"
    # hand-computed rational idf: tf * (N - df + 0.5) / (df + 0.5)
    assert out[(1, 1)].score == round(2 * (3 - 1 + 0.5) / (1 + 0.5), 6)
    assert out[(1, 2)].score == round(1 * (3 - 3 + 0.5) / (3 + 0.5), 6)
    assert all(r.doc_freq == 3 for r in
               (out[(1, 2)],)) and out[(1, 1)].doc_freq == 1


def test_conversation_structure_verdicts(spark):
    from datetime import datetime as dt

    from dp_data_quality_spark.ops.convstats import conversation_structure

    t0 = dt(2024, 1, 1, 12, 0, 0)

    def ts(s):
        return dt(2024, 1, 1, 12, 0, s)

    rows = [
        # clean: system, user, assistant, tool (transparent), user, assistant
        ("a", 0, "system", "s", None, ts(0)),
        ("a", 1, "user", "q", None, ts(1)),
        ("a", 2, "assistant", "r", None, ts(2)),
        ("a", 3, "tool", "o", "search", ts(3)),
        ("a", 4, "user", "q2", None, ts(4)),
        ("a", 5, "assistant", "r2", None, ts(5)),
        # broken: no system turn 0 (starts at 1 => gap too), double-user
        # across a transparent tool turn, tool row missing tool name,
        # stray tool name on a user turn, timestamp regression
        ("b", 1, "user", "q", "stray", ts(1)),
        ("b", 2, "tool", "o", None, ts(2)),
        ("b", 3, "user", "q2", None, ts(1)),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = {r.conv_id: r for r in conversation_structure(df).collect()}

    a = out["a"]
    assert (a.n_turns, a.n_system, a.n_user, a.n_assistant, a.n_tool) == (6, 1, 2, 2, 1)
    assert (a.starts_with_system, a.idx_contiguous) == (1, 1)
    assert (a.alternation_breaks, a.tool_mismatch, a.ts_regressions) == (0, 0, 0)
    assert a.structure_ok == 1

    b = out["b"]
    assert (b.starts_with_system, b.idx_contiguous) == (0, 0)
    # user at idx 3 repeats user at idx 1 through the transparent tool turn
    assert b.alternation_breaks == 1
    # tool-role row with NULL tool + user row with a tool name
    assert b.tool_mismatch == 2
    assert b.ts_regressions == 1
    assert b.structure_ok == 0


def test_pack_conversations_greedy(spark):
    from dp_data_quality_spark.ops.packing import pack_conversations

    # token counts per turn: 3, 4, 4, 9, 2  with budget 8:
    #   chunk 0 = [3, 4] (7), chunk 1 = [4] (4+9 would blow), chunk 2 = [9]
    #   (oversize isolated, over budget), chunk 3 = [2]
    rows = [
        ("c", 0, "a b c"),
        ("c", 1, "d e f g"),
        ("c", 2, "h i j k"),
        ("c", 3, "1 2 3 4 5 6 7 8 9"),
        ("c", 4, "x y"),
        ("d", 0, ""),          # zero-token turn stays in chunk 0
        ("d", 1, "lone"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = {(r.conv_id, r.chunk_id): r
           for r in pack_conversations(df, budget=8).collect()}

    assert out[("c", 0)].n_tokens == 7 and out[("c", 0)].n_turns == 2
    assert out[("c", 0)].text == "a b c\nd e f g"
    assert out[("c", 1)].n_tokens == 4
    assert out[("c", 2)].n_tokens == 9 and out[("c", 2)].n_turns == 1
    assert out[("c", 3)].n_tokens == 2
    assert ("c", 4) not in out
    # empty first turn contributes zero fill; both turns pack together
    assert out[("d", 0)].n_turns == 2 and out[("d", 0)].n_tokens == 1
    assert out[("d", 0)].text == "\nlone"


def test_turn_coherence_jaccard(spark):
    from dp_data_quality_spark.ops.convstats import turn_coherence

    rows = [
        ("c", 0, "alpha beta gamma"),
        ("c", 1, "beta gamma delta"),     # |∩|=2, |∪|=4 → 0.5
        ("c", 2, "zzz qqq"),              # disjoint → 0.0
        ("s", 0, "only one turn"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = {r.conv_id: r for r in turn_coherence(df).collect()}
    c = out["c"]
    assert c.n_pairs == 2 and c.n_disjoint == 1
    assert c.avg_jaccard == round((0.5 + 0.0) / 2, 6)
    s = out["s"]
    assert (s.n_pairs, s.avg_jaccard, s.n_disjoint) == (0, 0.0, 0)


def test_pack_conversations_straddles_arrow_batches(spark):
    from dp_data_quality_spark.ops.packing import pack_conversations

    # force conversations to straddle Arrow batch boundaries so the
    # mapInPandas carry path actually runs
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        rows = [(f"c{c}", i, "w " * (i % 5 + 1)) for c in range(3)
                for i in range(25)]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, text string"
        ).coalesce(1)
        out = pack_conversations(df, budget=6).collect()
        # every turn appears exactly once, in order, per conversation
        per_conv = {}
        for r in sorted(out, key=lambda r: (r.conv_id, r.chunk_id)):
            per_conv.setdefault(r.conv_id, []).append(r)
        for c in range(3):
            chunks = per_conv[f"c{c}"]
            total_turns = sum(r.n_turns for r in chunks)
            assert total_turns == 25
            assert [r.chunk_id for r in chunks] == list(range(len(chunks)))
            joined = "\n".join(r.text for r in chunks).split("\n")
            assert joined == [("w " * (i % 5 + 1)) for i in range(25)]
            assert all(r.n_tokens <= 6 for r in chunks)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_dedup_conversations_fingerprint(spark):
    from dp_data_quality_spark.ops.convstats import dedup_conversations

    rows = [
        ("a", 0, "hello"), ("a", 1, "world"),
        ("b", 0, "hello"), ("b", 1, "world"),      # exact dup of a
        ("c", 0, "hello"), ("c", 1, "world!"),     # differs in turn 1
        ("d", 0, "helloworld"),                    # same chars, 1 turn
        ("e", 0, None), ("e", 1, ""),              # null vs empty
        ("f", 0, ""), ("f", 1, None),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = {r.conv_id: r for r in dedup_conversations(df).collect()}
    assert out["a"].fingerprint == out["b"].fingerprint
    assert out["a"].is_canonical == 1 and out["b"].is_canonical == 0
    assert out["b"].canonical_id == "a" and out["b"].group_size == 2
    # near-miss sequences all distinct
    fps = {out[k].fingerprint for k in "acdef"}
    assert len(fps) == 5
    assert all(out[k].is_canonical == 1 for k in "cdef")


def test_connected_components_logarithmic_on_chains(spark):
    # a 150-link chain has diameter 150: neighbour propagation alone
    # would blow the 25-round bound; pointer jumping must converge it
    from dp_data_quality_spark.ops.graph import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(150)], "doc_a long, doc_b long"
    )
    out = connected_components(pairs).collect()
    assert len(out) == 151
    assert all(r.component_id == 0 for r in out)


def test_vocab_coverage_exact(spark):
    from dp_data_quality_spark.ops.textstats import vocab_coverage

    docs = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b x")],
        "doc_id long, text string",
    )
    rows = {r.rank: r for r in vocab_coverage(docs, k=3).collect()}
    # a:4 b:3 c:1 x:1 over 9 tokens; tie c/x broken alphabetically
    assert (rows[1].word, rows[1].n, rows[1].cum_n) == ("a", 4, 4)
    assert (rows[2].word, rows[2].n, rows[2].cum_n) == ("b", 3, 7)
    assert (rows[3].word, rows[3].n) == ("c", 1)
    assert rows[2].coverage == 7 / 9


def test_fix_mojibake_roundtrip(spark):
    from dp_data_quality_spark.ops.textstats import (
        MOJIBAKE_PAIRS, _as_mojibake, fix_mojibake,
    )
    from pyspark.sql import functions as F

    clean = "café — “quoted” … naïve’s ün"
    # ï is deliberately NOT in the fix table; everything else is
    broken = _as_mojibake(clean)
    df = spark.createDataFrame([(broken,), ("plain ascii",)], "text string")
    out = [r.f for r in df.select(fix_mojibake(F.col("text")).alias("f")).collect()]
    assert out[1] == "plain ascii"
    # all table-covered sequences repaired; the ï damage remains
    assert "café" in out[0] and "—" in out[0] and "“quoted”" in out[0]
    assert "’s" in out[0] and "ün" in out[0]
    assert "naïve" not in out[0]
    # the damage model really produced multi-char mojibake
    assert len(broken) > len(clean)
    assert all(len(b) >= 2 for b, _ in MOJIBAKE_PAIRS)


def test_detect_turn_loops_runs(spark):
    from dp_data_quality_spark.ops.convstats import detect_turn_loops

    rows = [
        ("a", 0, "x"), ("a", 1, "x"), ("a", 2, "x"), ("a", 3, "y"),
        ("a", 4, "x"),                      # same text, NOT consecutive
        ("b", 0, "p"), ("b", 1, "p"), ("b", 2, "q"),
        ("c", 0, "u"), ("c", 1, None), ("c", 2, None),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = {r.conv_id: r for r in detect_turn_loops(df).collect()}
    assert (out["a"].longest_run, out["a"].n_repeated_turns, out["a"].has_loop) == (3, 2, 1)
    assert (out["b"].longest_run, out["b"].has_loop) == (2, 0)
    # consecutive NULLs count as a run of identical turns
    assert (out["c"].longest_run, out["c"].n_repeated_turns) == (2, 1)


def test_conversation_lang_consistency(spark):
    from dp_data_quality_spark.ops.convstats import conversation_lang_consistency

    rows = [
        ("m", 0, "the cat and the dog"),        # en
        ("m", 1, "le chat et la maison des"),   # fr
        ("m", 2, "a table of the data for it"), # en
        ("p", 0, "the thing is that it"),
        ("p", 1, "it is for the best"),
        ("u", 0, "zzz qqq"),                    # und only
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = {r.conv_id: r for r in conversation_lang_consistency(df).collect()}
    m = out["m"]
    assert (m.majority_lang, m.is_mixed, m.n_langs) == ("en", 1, 2)
    assert m.majority_frac == 2 / 3
    p = out["p"]
    assert (p.majority_lang, p.is_mixed, p.majority_frac) == ("en", 0, 1.0)
    u = out["u"]
    assert (u.majority_lang, u.is_mixed) == ("und", 0)


def test_neardup_conversations_one_edit(spark):
    from dp_data_quality_spark.ops.convstats import (
        dedup_conversations, neardup_conversations,
    )

    base = [("a", i, f"turn {i}") for i in range(10)]
    edited = [("a2", i, "CHANGED" if i == 0 else f"turn {i}") for i in range(10)]
    other = [("z", i, f"zzz {i}") for i in range(10)]
    df = spark.createDataFrame(base + edited + other,
                               "conv_id string, turn_idx int, text string")
    pairs = neardup_conversations(df, threshold=0.7).collect()
    assert [(r.conv_a, r.conv_b) for r in pairs] == [("a", "a2")]
    # 9 shared digests of 11 distinct → jaccard 9/11
    assert pairs[0].jaccard == round(9 / 11, 6)
    # the exact hash chain can NOT pair them
    fp = {r.conv_id: r.fingerprint for r in dedup_conversations(df).collect()}
    assert fp["a"] != fp["a2"]


def test_write_training_shards_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from dp_data_quality_spark.ops.packing import (
        pack_conversations, write_training_shards,
    )

    rows = [(f"c{c}", i, f"w{i} " * 3) for c in range(20) for i in range(6)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    packed = pack_conversations(df, budget=12)
    out = str(tmp_path / "shards")
    manifest = write_training_shards(packed, out, n_shards=4)
    m = {r.shard: r.n_rows for r in manifest.collect()}
    back = spark.read.json(out)
    assert sum(m.values()) == back.count() == packed.count()
    assert set(m) <= {0, 1, 2, 3}
    # a conversation's chunks never straddle shards, and assignment is
    # a pure function of the key (rerun-stable)
    spread = (back.groupBy("conv_id")
              .agg(F.countDistinct("shard").alias("k")).collect())
    assert all(r.k == 1 for r in spread)
    manifest2 = write_training_shards(packed, out, n_shards=4)
    assert {r.shard: r.n_rows for r in manifest2.collect()} == m


def test_write_training_shards_append_counts_only_this_run(spark, tmp_path):
    from dp_data_quality_spark.ops.packing import write_training_shards

    rows1 = [(f"c{c}", f"t{c}") for c in range(8)]
    rows2 = [(f"d{c}", f"u{c}") for c in range(5)]
    df1 = spark.createDataFrame(rows1, "conv_id string, text string")
    df2 = spark.createDataFrame(rows2, "conv_id string, text string")
    out = str(tmp_path / "shards")
    m1 = write_training_shards(df1, out, n_shards=2)
    assert sum(r.n_rows for r in m1.collect()) == 8
    # append a second run: its manifest covers ONLY the appended rows
    m2 = write_training_shards(df2, out, n_shards=2, mode="append")
    assert sum(r.n_rows for r in m2.collect()) == 5
    assert spark.read.json(out).count() == 13


def test_write_training_shards_empty_input(spark, tmp_path):
    from dp_data_quality_spark.ops.packing import write_training_shards

    df = spark.createDataFrame([], "conv_id string, text string")
    manifest = write_training_shards(df, str(tmp_path / "s"), n_shards=2)
    assert manifest.count() == 0


def test_duplicated_spans_matches_reference_and_twin(spark):
    """Exact repeated-substring spans: maximal merged spans match a
    pure-Python sliding-window reference AND the DuckDB twin, including
    cross-doc runs at different offsets, whole-doc duplicates, and
    intra-document repetition."""
    import re
    from collections import Counter

    import pytest

    from dp_data_quality_spark.ops import dedup as D

    duckdb = pytest.importorskip("duckdb")
    DOCS = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "xx alpha beta gamma delta epsilon zeta eta theta iota kappa yy"),
        (3, "one two three four five six seven eight"),
        (4, "one two three four five six seven eight"),
        (5, "repeat me " * 8),
        (6, None),
        (7, "short text only"),
    ]
    K = 8

    def toks(t):
        if not t:
            return []
        return [w for w in re.sub(r"\s+", " ", t.strip().lower()).split(" ") if w]

    gram_count = Counter()
    for _, t in DOCS:
        ws = toks(t)
        for p in range(len(ws) - K + 1):
            gram_count[tuple(ws[p : p + K])] += 1
    ref = set()
    for did, t in DOCS:
        ws = toks(t)
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
    assert (1, 0, 10) in ref and (2, 1, 10) in ref and (5, 0, 16) in ref

    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in D.duplicated_spans(df, k=K).collect()
    }
    assert got == ref

    con = duckdb.connect()
    con.sql("CREATE TABLE docs(doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", DOCS)
    duck = {
        tuple(r)
        for r in con.sql(
            D.sql_duplicated_spans("SELECT doc_id, text FROM docs", k=K)
        ).fetchall()
    }
    assert duck == ref
