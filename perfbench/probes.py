"""Per-layer probes for traced runs.  Each probe calls one layer's public
functions on the workload's own input, so every per-layer metric is
measured on every workload (a layer the workload does not use is the
prediction "no change" for that workload).
"""

from __future__ import annotations

import shutil
import statistics
import time
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .workloads import N_BUCKETS, NPROC, Ctx, Workload, bytes_under, files_under, write_report

KERNEL_ROWS = 10_000     # spark.sql.execution.arrow.maxRecordsPerBatch in session.get_spark
KERNEL_REPS = 3
STREAM_PROBE_BATCHES = 5


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(ctx: Ctx, name: str, fn, reps: int = 1) -> float:
    """Median wall time of ``reps`` calls of ``fn``, each in a span."""
    times = []
    for _ in range(reps):
        with ctx.tracer.span(name):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _jobs(ctx: Ctx) -> int:
    return len(ctx.spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def kernel_rates(ctx: Ctx, df: DataFrame) -> dict[str, float]:
    """Rows/s of the four scoring kernels, in-process on one Arrow-batch-
    sized pandas batch of the workload's (prefix-cut) texts, no Spark."""
    from dp_data_quality_spark.config import FilterConfig
    from dp_data_quality_spark.functions import langid, ngram, perplexity

    prefix = FilterConfig().score_prefix_chars
    with ctx.tracer.span("bench.kernel_input"):
        texts = df.select(F.substring("text", 1, prefix).alias("t")).limit(KERNEL_ROWS).toPandas()["t"]
    rows = len(texts)
    buf, offsets, lengths = ngram.encode_batch(texts.tolist())
    kernels = {
        "encode": lambda: ngram.encode_batch(texts.tolist()),
        "langid": lambda: langid.score_from_buffer(buf, offsets, lengths, langid._TABLE),
        "ppl": lambda: perplexity.ppl_from_buffer(buf, offsets, perplexity._TABLE),
        "word_stats": lambda: ngram.rowwise_word_stats(buf, offsets),
    }
    return {
        name: rows / _timed(ctx, f"functions.{name}", fn, KERNEL_REPS)
        for name, fn in kernels.items()
    }


def run_probes(ctx: Ctx, wl: Workload) -> dict[str, float]:
    from dp_data_quality_spark.config import FilterConfig
    from dp_data_quality_spark.functions.scrub import scrub_text
    from dp_data_quality_spark.pipeline import run_pipeline, score_turns, with_bucket
    from dp_data_quality_spark.streaming.stream_filter import filtered_writer, score_stream

    spark = ctx.spark
    out = ctx.run_dir / "probes"
    df = wl.bulk_input()
    n = df.count()
    m: dict[str, float] = {}

    m["sources.scan_s"] = _timed(ctx, "sources.scan", lambda: _noop(df), reps=3)

    rates = kernel_rates(ctx, df)
    for name, rate in rates.items():
        m[f"functions.{name}_rows_per_s"] = rate

    # scoring with and without the scrub column, on run_pipeline's partitioning
    bucketed = with_bucket(df, N_BUCKETS).repartition(N_BUCKETS, "bucket")
    m["pipeline.score_s"] = _timed(
        ctx, "pipeline.score_noop",
        lambda: _noop(score_turns(bucketed, spark).drop("scrubbed_text")), reps=2)
    score_scrub_s = _timed(
        ctx, "pipeline.score_scrub_noop", lambda: _noop(score_turns(bucketed, spark)), reps=2)
    # kernel share of the scoring stage: per-row kernel cost spread over the cores
    m["pipeline.kernel_s"] = n * sum(1 / r for r in rates.values()) / min(NPROC, N_BUCKETS)
    m["pipeline.udf_boundary_s"] = m["pipeline.score_s"] - m["pipeline.kernel_s"]

    lexicon = FilterConfig().toxicity_lexicon
    m["scrub.scrub_s"] = _timed(
        ctx, "scrub.scrub_noop",
        lambda: _noop(df.select(scrub_text(F.col("text"), lexicon).alias("s"))), reps=2)
    with ctx.tracer.span("scrub.gate_count"):
        gated = df.filter(F.col("text").contains("@") | F.col("text").rlike("[0-9]")).count()
    m["scrub.gate_hit_frac"] = gated / n

    jobs0 = _jobs(ctx)
    pipe_s = _timed(ctx, "pipeline.run_pipeline", lambda: run_pipeline(
        spark, df, str(out / "pipeline"), n_buckets=N_BUCKETS, resume=False, run_id="probe"))
    m["pipeline.jobs"] = _jobs(ctx) - jobs0
    m["pipeline.sink_s"] = pipe_s - score_scrub_s
    m["pipeline.files_written"] = files_under(out / "pipeline")
    m["pipeline.bytes_written"] = bytes_under(out / "pipeline")
    rows_in = [r["rows_in"] for r in spark.read.parquet(str(out / "pipeline" / "metrics")).collect()]
    m["pipeline.bucket_skew"] = max(rows_in) / statistics.median(rows_in)

    # one untimed report first: the three variants below are compared with
    # each other, so none of them may pay the report plan's first-run cost
    _timed(ctx, "report.warmup", lambda: write_report(ctx, df, out / "report"))
    hits_s = _timed(ctx, "report.hits", lambda: write_report(
        ctx, df, out / "report_hits", include_duplicate_rule=False, include_report_id=False))
    dup_s = _timed(ctx, "report.hits_dup", lambda: write_report(
        ctx, df, out / "report_dup", include_report_id=False))
    full_s = _timed(ctx, "report.full", lambda: write_report(ctx, df, out / "report"))
    m["report.hits_s"] = hits_s
    m["report.dup_s"] = dup_s - hits_s
    m["report.id_s"] = full_s - dup_s
    by_rule = {
        r["VALIDATION_ID"]: r["count"]
        for r in spark.read.parquet(str(out / "report")).groupBy("VALIDATION_ID").count().collect()
    }
    m["report.rows"] = sum(by_rule.values())
    m["report.rows_rule3"] = by_rule.get(3, 0)
    m["report.rows_rule10"] = by_rule.get(10, 0)

    # a few micro-batches cut from the workload's input by conversation
    plan, score, write, jobs = [], [], [], []
    for i in range(STREAM_PROBE_BATCHES):
        batch = df.filter(F.pmod(F.xxhash64("conv_id"), F.lit(16)) == i)
        with ctx.tracer.span("stream.score_stream"):
            t0 = time.perf_counter()
            scored = score_stream(batch, spark, n_buckets=N_BUCKETS)
            plan.append(time.perf_counter() - t0)
        score.append(_timed(ctx, "stream.score_noop", lambda: _noop(scored)))
        jobs0 = _jobs(ctx)
        write.append(_timed(ctx, "stream.filtered_writer",
                            lambda: filtered_writer(str(out / "stream"))(scored, i)))
        jobs.append(_jobs(ctx) - jobs0)
    m["stream.plan_s"] = statistics.median(plan)
    m["stream.score_s"] = statistics.median(score)
    m["stream.write_s"] = statistics.median(write)
    m["stream.jobs_per_batch"] = statistics.median(jobs)

    shutil.rmtree(out, ignore_errors=True)
    return m
