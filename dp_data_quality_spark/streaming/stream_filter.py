"""Streaming quality filter: the batch scoring stack as a streaming stage.

The reference has no streaming surface (SURVEY.md §2.9); this module
extends the engine so a transcript stream (Kafka / file source /
rate-source tests) flows through the SAME ``score_turns`` projection —
one code path for batch and streaming, which is what keeps the per-turn
keep/drop contract identical across both.

Design:
- ``score_stream``: stateless scoring — pure projection, so it attaches
  to any streaming DataFrame with no state store and no shuffle.
- ``filtered_writer``: ``foreachBatch`` sink writing through the batch
  pipeline's sink (``pipeline.write_scored``), partitioned by the
  stream's commit unit: ``run_id=stream-{batch_id}/keep=0|1``, with
  ``bucket`` kept as a data column.  A micro-batch is one Spark job with
  no shuffle: each input split scores its rows and writes one part file
  per keep value.  Each micro-batch DYNAMICALLY OVERWRITES its own
  run_id partitions, so a replayed epoch (failure after write, before
  checkpoint commit) rewrites the same partitions instead of appending
  duplicates — exactly-once per epoch, given the source's deterministic
  epoch replay (which the streaming checkpoint guarantees for
  replayable sources).
- ``windowed_drop_metrics``: watermarked per-window drop-reason counts
  — the streaming analogue of the metrics table (late turns beyond the
  watermark are dropped from metrics, never from data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import FilterConfig
from ..pipeline import score_turns, write_scored
from ..session import glob


def score_stream(
    stream_df: DataFrame,
    spark: SparkSession,
    cfg: FilterConfig | None = None,
    n_buckets: int = 32,
) -> DataFrame:
    """Attach the full scoring projection to a streaming DataFrame.

    Stateless (projection only) — works on any source delivering the
    transcript schema (conv_id, turn_idx, role, text, tool, ts)."""
    return score_turns(stream_df, spark, cfg, n_buckets=n_buckets)


def filtered_writer(output_dir: str):
    """``foreachBatch`` function writing each scored micro-batch to
    ``{output_dir}/scored/run_id=stream-{batch_id}/keep=0|1/``, with
    ``bucket`` as a data column: one Spark job per micro-batch, one part
    file per input split and keep value.

    Idempotent replay: ``overwrite`` + dynamic partitionOverwriteMode
    only replaces the partitions PRESENT in this batch — i.e. exactly
    this epoch's ``run_id`` subtree.  A micro-batch retried after a
    crash overwrites its own earlier (possibly partial) output instead
    of appending a second copy, which is what makes the sink
    exactly-once per epoch.

    Raises ``ValueError`` if ``output_dir`` holds stream output in the
    earlier ``run_id/keep/bucket`` layout: the two layouts cannot be
    read as one table, and the failure would only show after this
    writer's first commit.  The check is one FileSystem glob, made
    here, not per micro-batch."""
    scored_path = f"{output_dir}/scored"
    earlier = glob(SparkSession.active(), f"{scored_path}/run_id=*/keep=*/bucket=*")
    if earlier:
        raise ValueError(
            f"{scored_path} holds stream output partitioned by run_id/keep/bucket "
            f"(e.g. {earlier[0]}), which cannot be read as one table with the "
            "run_id/keep micro-batches this writer adds: write to a new output directory"
        )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        write_scored(batch_df, scored_path, f"stream-{batch_id}")

    return _write


def start_stream_filter(
    stream_df: DataFrame,
    spark: SparkSession,
    output_dir: str,
    checkpoint_dir: str,
    cfg: FilterConfig | None = None,
    n_buckets: int = 32,
    trigger_seconds: int | None = None,
):
    """Wire source → scoring → foreachBatch sink; returns the query."""
    scored = score_stream(stream_df, spark, cfg, n_buckets)
    writer = (
        scored.writeStream.foreachBatch(filtered_writer(output_dir))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def windowed_drop_metrics(
    scored_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked per-window drop-reason counts (streaming metrics).

    Late turns beyond the watermark fall out of the counts only — the
    data path above is stateless and never drops them."""
    return (
        scored_stream.withWatermark("ts", watermark)
        .select(F.col("ts"), F.explode_outer("drop_reasons").alias("reason"))
        .groupBy(F.window("ts", window).alias("w"), "reason")
        .count()
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "reason",
            "count",
        )
    )
