"""Streaming quality-filter tests: file-source micro-batches through the
same scoring stack, output parity with the batch pipeline, and
watermarked metrics."""

from __future__ import annotations

import re
import time

import pytest
from pyspark.sql import functions as F

from dp_data_quality_spark import synth
from dp_data_quality_spark.config import FilterConfig
from dp_data_quality_spark.pipeline import score_turns, with_bucket
from dp_data_quality_spark.streaming.stream_filter import (
    filtered_writer,
    score_stream,
    start_stream_filter,
    windowed_drop_metrics,
)

from .conftest import part_files

CFG = FilterConfig()


@pytest.fixture(scope="module")
def staged_input(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "input")
    df = synth.strip_truth(synth.transcripts(spark, 60, seed=11))
    df.write.mode("overwrite").parquet(path)
    return path, df.count()


def test_stream_filter_end_to_end(spark, staged_input, tmp_path):
    path, n_rows = staged_input
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    assert stream.isStreaming

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = start_stream_filter(stream, spark, out, ckpt, CFG, n_buckets=4)
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            q.processAllAvailable()
            break
    finally:
        q.stop()

    written = spark.read.parquet(out + "/scored")
    assert written.count() == n_rows

    # parity: streaming output keep/drop == batch pipeline keep/drop
    batch = score_turns(spark.read.parquet(path), spark, CFG)
    b = {(r.conv_id, r.turn_idx): (r.keep, r.scrubbed_text)
         for r in batch.select("conv_id", "turn_idx", "keep", "scrubbed_text").collect()}
    s = {(r.conv_id, r.turn_idx): (bool(r.keep), r.scrubbed_text)
         for r in written.select("conv_id", "turn_idx", "keep", "scrubbed_text").collect()}
    assert b == s


def test_windowed_metrics_schema(spark, staged_input):
    path, _ = staged_input
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    metrics = windowed_drop_metrics(score_stream(stream, spark, CFG, 4))
    assert metrics.isStreaming
    assert [f.name for f in metrics.schema.fields] == [
        "window_start", "window_end", "reason", "count"
    ]


def test_windowed_metrics_values_match_batch(spark, staged_input):
    """Streaming windowed drop-reason counts == batch groupBy over the
    same data (memory sink, complete mode)."""
    path, _ = staged_input
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    metrics = windowed_drop_metrics(score_stream(stream, spark, CFG, 4),
                                    window="1 minute", watermark="2 minutes")
    q = (
        metrics.writeStream.format("memory")
        .queryName("win_metrics")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.window_start, r.reason): r["count"]
            for r in spark.sql("SELECT * FROM win_metrics").collect()
        }
    finally:
        q.stop()

    batch = score_turns(spark.read.parquet(path), spark, CFG)
    want = {
        (r.w, r.reason): r["count"]
        for r in batch.select(
            F.window("ts", "1 minute").alias("win"),
            F.explode_outer("drop_reasons").alias("reason"),
        )
        .select(F.col("win.start").alias("w"), "reason")
        .groupBy("w", "reason")
        .count()
        .collect()
    }
    assert got == want and len(got) > 0


def test_replayed_micro_batch_is_idempotent(spark, staged_input, tmp_path):
    # A foreachBatch retry re-invokes the writer with the SAME batch_id
    # (checkpoint not yet committed).  Dynamic overwrite of the epoch's
    # run_id partitions must leave zero duplicate (conv_id, turn_idx).
    from dp_data_quality_spark.streaming.stream_filter import filtered_writer

    path, n_rows = staged_input
    scored = score_turns(spark.read.parquet(path), spark, CFG)
    from dp_data_quality_spark.pipeline import with_bucket

    batch = with_bucket(scored, 4) if "bucket" not in scored.columns else scored
    write = filtered_writer(str(tmp_path / "out"))
    write(batch, 7)
    write(batch, 7)  # replay of the same epoch

    written = spark.read.parquet(str(tmp_path / "out") + "/scored")
    assert written.count() == n_rows
    dups = (
        written.groupBy("conv_id", "turn_idx")
        .count().filter(F.col("count") > 1).count()
    )
    assert dups == 0
    assert {r.run_id for r in written.select("run_id").distinct().collect()} == {"stream-7"}


def test_micro_batch_is_partitioned_by_run_id_and_keep(spark, tmp_path):
    # a micro-batch commits per epoch: run_id=stream-N/keep=0|1, with
    # bucket as a data column, and each input split writes at most one
    # part file into each directory
    inp = str(tmp_path / "inp")
    synth.strip_truth(synth.transcripts(spark, 60, seed=5)).repartition(3).write.parquet(inp)
    batch = spark.read.parquet(inp)
    assert batch.rdd.getNumPartitions() == 3
    out = tmp_path / "out"
    filtered_writer(str(out))(score_stream(batch, spark, CFG, 4), 2)

    parts = part_files(out / "scored")
    assert set(parts) == {"run_id=stream-2/keep=0", "run_id=stream-2/keep=1"}, parts
    assert max(parts.values()) <= 3, parts
    written = spark.read.parquet(str(out / "scored"))
    assert written.count() == batch.count()
    rebucketed = with_bucket(written.withColumnRenamed("bucket", "written_bucket"), 4)
    assert rebucketed.filter(~F.col("bucket").eqNullSafe(F.col("written_bucket"))).count() == 0
    filtered_writer(str(out))  # a writer made on this layout accepts it


def test_filtered_writer_refuses_bucket_directories(spark, tmp_path):
    # an output written as run_id=*/keep=*/bucket=* cannot be read as one
    # table with (run_id, keep) micro-batches: the writer refuses it when
    # it is made, before any micro-batch lands there
    out = tmp_path / "out"
    old = out / "scored" / "run_id=stream-0" / "keep=1" / "bucket=3"
    old.mkdir(parents=True)
    (old / "part-00000.parquet").write_bytes(b"")
    with pytest.raises(ValueError, match=re.escape(str(out / "scored"))):
        filtered_writer(str(out))


def test_windowed_metrics_drop_late_rows_beyond_watermark(spark, tmp_path):
    # a row arriving after the watermark passed its window must NOT be
    # counted in that window's metrics (the documented trade-off: late
    # data is dropped from METRICS, never from the data path).
    import datetime as dt

    t = lambda m, s=0: dt.datetime(2026, 1, 1, 12, m, s)
    schema = "ts timestamp, drop_reasons array<string>"
    inp = str(tmp_path / "inp")

    # one FILE per logical batch: with maxFilesPerTrigger=1 the file is
    # the micro-batch unit, and multi-file writes would let the 12:03 row
    # process before the 12:00 rows (file order is not guaranteed),
    # making them spuriously late
    spark.createDataFrame(
        [(t(0, 10), ["r1"]), (t(0, 20), ["r1"]), (t(3, 30), ["r1"])], schema
    ).coalesce(1).write.mode("append").parquet(inp)

    stream = spark.readStream.schema(
        spark.read.parquet(inp).schema
    ).option("maxFilesPerTrigger", 1).parquet(inp)
    metrics = windowed_drop_metrics(stream, window="1 minute", watermark="2 minutes")

    out = str(tmp_path / "out")
    q = (
        metrics.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()  # watermark now 12:03:30 - 2min = 12:01:30
        spark.createDataFrame(
            [(t(0, 40), ["r1"]),   # LATE: window [12:00,12:01) already closed
             (t(6, 0), ["r1"])],   # advances watermark to 12:04 -> flush
            schema,
        ).coalesce(1).write.mode("append").parquet(inp)
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(out).collect()
    counts = {r.window_start.strftime("%H:%M"): r["count"] for r in rows
              if r.reason == "r1"}
    # the 12:00 window holds only the two on-time rows; the late third
    # arrival was dropped from metrics
    assert counts.get("12:00") == 2, rows
