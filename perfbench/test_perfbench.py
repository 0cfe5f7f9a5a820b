"""Tests of the benchmark itself: the seeded generators are deterministic,
staged inputs are keyed by seed, ``BENCHMARK.json`` names the metrics the
benchmark prints, and every output check fails on a corrupted output.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pandas as pd
import pytest

from perfbench import checks, inputs, metrics

ROOT = Path(__file__).resolve().parent.parent
KEYS = ["conv_id", "turn_idx"]


def test_benchmark_json_matches_metric_tables():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        (m.name, m.unit, m.better, m.bound) for m in metrics.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (m.name, m.unit, m.better) for m in metrics.PER_LAYER
    ]


def test_pii_dense_generator_is_deterministic():
    a = inputs.pii_dense_frame(5, n_convs=40)
    b = inputs.pii_dense_frame(5, n_convs=40)
    c = inputs.pii_dense_frame(6, n_convs=40)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(c)
    flagged = a["text"].str.contains(r"@|\d|frakking|dagnabbit|gorram|smeghead")
    assert flagged.mean() > 0.85


def test_rule_count_check_fails_on_corruption():
    want = {3: 10, 10: 2, 17: 1}
    ok = checks.compare_rule_counts(dict(want), want)
    assert (ok.failed, ok.keep_f1) == (0, 1.0)
    bad = checks.compare_rule_counts({3: 9, 10: 2, 16: 1}, want)
    assert bad.failed == 3 and bad.keep_f1 < 1.0


def _oracle_rows():
    from tests.oracle_util import decide_oracle

    texts = [
        "the quick brown fox jumps over lazy dog. Contact me at alice.smith@example.com",
        "question answer system model data table query filter happy. Call 303-555-1234",
        "le renard brun rapide saute par dessus chien paresseux",
        None,
    ]
    cfg = checks.FilterConfig()
    return [(t, *decide_oracle(t, cfg)[::2]) for t in texts]


def test_oracle_check_fails_on_corrupted_rows():
    rows = _oracle_rows()
    assert checks.score_against_oracle(rows).failed == 0
    t, keep, scrubbed = rows[0]
    assert keep
    scrub_flip = [(t, keep, scrubbed + "x")] + rows[1:]
    assert checks.score_against_oracle(scrub_flip).failed == 1
    keep_flip = [(t, not keep, None)] + rows[1:]
    bad = checks.score_against_oracle(keep_flip)
    assert bad.failed == 1 and bad.keep_f1 < checks.F1_MIN
    missing = [(t, None, None)] + rows[1:]
    assert checks.score_against_oracle(missing).failed == 1


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    os.environ["PYTHONPATH"] = str(ROOT) + os.pathsep + os.environ.get("PYTHONPATH", "")
    session = (
        SparkSession.builder.appName("perfbench_tests")
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session


@pytest.fixture
def small_inputs(monkeypatch):
    monkeypatch.setattr(inputs, "MIXED_CONVS", 60)
    monkeypatch.setattr(inputs, "MEGA_TURNS", 30)
    monkeypatch.setattr(inputs, "STREAM_CONVS", 60)
    monkeypatch.setattr(inputs, "STREAM_BATCHES", 3)
    monkeypatch.setattr(checks, "SAMPLE_MOD", 4)


def _rows(spark, path) -> list:
    return sorted(spark.read.parquet(str(path)).collect())


def test_staged_input_is_deterministic_and_cached(spark, tmp_path, small_inputs):
    a = inputs.stage(spark, "mixed", 3, tmp_path / "a")
    b = inputs.stage(spark, "mixed", 3, tmp_path / "b")
    c = inputs.stage(spark, "mixed", 4, tmp_path / "a")
    assert a.path.name == b.path.name != c.path.name
    assert _rows(spark, a.path) == _rows(spark, b.path)
    assert _rows(spark, a.path) != _rows(spark, c.path)
    marker = a.path / "_TURNS"
    before = marker.stat().st_mtime_ns
    again = inputs.stage(spark, "mixed", 3, tmp_path / "a")
    assert again == a and marker.stat().st_mtime_ns >= before
    assert a.turns == len(_rows(spark, a.path))


def test_filter_check_fails_on_corrupted_output(spark, tmp_path, small_inputs):
    from pyspark.sql import functions as F

    from dp_data_quality_spark.pipeline import run_pipeline

    staged = inputs.stage(spark, "mixed", 3, tmp_path / "in")
    df = spark.read.parquet(str(staged.path))
    run_pipeline(spark, df, str(tmp_path / "out"), n_buckets=4, resume=False)
    scored = tmp_path / "out" / "scored"
    assert checks.check_filter(spark, df, str(scored), 3).failed == 0

    good = spark.read.parquet(str(scored))
    bad_scrub = good.withColumn(
        "scrubbed_text", F.when(F.col("keep") == 1, F.concat("scrubbed_text", F.lit("x"))))
    bad_scrub.write.partitionBy("keep", "bucket").parquet(str(tmp_path / "bad_scrub"))
    assert checks.check_filter(spark, df, str(tmp_path / "bad_scrub"), 3).failed > 0

    good.filter(F.col("turn_idx") != 1).write.partitionBy("keep", "bucket").parquet(
        str(tmp_path / "lost_rows"))
    assert checks.check_filter(spark, df, str(tmp_path / "lost_rows"), 3).failed > 0


def test_stream_check_fails_on_corrupted_batch(spark, tmp_path, small_inputs):
    from pyspark.sql import functions as F

    from dp_data_quality_spark.streaming.stream_filter import filtered_writer, score_stream

    staged = inputs.stage(spark, "stream", 3, tmp_path / "in")
    whole = spark.read.parquet(str(staged.path)).drop("batch")
    fed = {}
    for i in range(staged.batches):
        batch = spark.read.schema(inputs.TRANSCRIPT_SCHEMA).parquet(staged.batch_path(i))
        filtered_writer(str(tmp_path / "stream"))(score_stream(batch, spark, n_buckets=4), i)
        fed[f"stream-{i}"] = batch.count()
    good = str(tmp_path / "stream" / "scored")
    assert checks.check_stream(spark, good, whole, fed, 3).failed == 0

    out = spark.read.parquet(good)
    flipped = out.withColumn(
        "keep", F.when(F.col("run_id") == "stream-0", 1 - F.col("keep")).otherwise(F.col("keep")))
    flipped.write.partitionBy("run_id", "keep", "bucket").parquet(str(tmp_path / "bad"))
    assert checks.check_stream(spark, str(tmp_path / "bad"), whole, fed, 3).failed > 0
