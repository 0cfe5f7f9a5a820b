"""Metric definitions.  ``BENCHMARK.json`` lists the same names; the
benchmark's tests keep the two in step.

End-to-end metrics are what a user of the filter sees, measured with
tracing off.  Per-layer metrics come from a traced run (``--trace 1``);
``moves`` records, before any change is measured, which end-to-end metric
a layer metric should move and on which workloads.
"""

from __future__ import annotations

from typing import NamedTuple


class EndToEnd(NamedTuple):
    name: str
    unit: str
    better: str
    bound: float
    meaning: str


class PerLayer(NamedTuple):
    name: str
    unit: str
    better: str
    moves: str


END_TO_END = [
    EndToEnd("setup_s", "s", "lower", 0.25,
             "median of 3 set-ups (get_spark, import-time model training, first "
             "pandas-UDF job) plus the warm-up run before timing starts"),
    EndToEnd("turns_per_s", "1/s", "higher", 0.25,
             "input turns / median wall time of one job; for the micro-batch "
             "workload, turns / summed batch time"),
    EndToEnd("batch_latency_p50_s", "s", "lower", 0.25,
             "median wall time of one committed unit of work: a whole job on "
             "the bulk workloads, one micro-batch on stream_microbatch"),
    EndToEnd("batch_latency_p80_s", "s", "lower", 0.25,
             "80th percentile of the same samples"),
    EndToEnd("peak_rss_mb", "MB", "lower", 0.15,
             "peak memory of the driver JVM plus its Python workers while "
             "measuring (summed proportional set sizes, so shared pages count once)"),
    EndToEnd("output_mb", "MB", "lower", 0.1,
             "bytes the job commits (scored + metrics, the report, or every "
             "micro-batch's output, scaled to one pass over the staged input)"),
    EndToEnd("keep_f1", "ratio", "higher", 0.01,
             "keep/drop F1 against the pure-Python oracle on a seeded sample; "
             "for report_contract, F1 of per-rule hit counts against DuckDB"),
]

_SETUP = "setup_s, all workloads"
_FILTER = "turns_per_s and batch latency on filter_*"
PER_LAYER = [
    PerLayer("session.start_s", "s", "lower", _SETUP),
    PerLayer("session.cold_start_s", "s", "lower", "setup_s (first set-up, JVM launch), all workloads"),
    PerLayer("functions.import_s", "s", "lower", _SETUP),
    PerLayer("functions.worker_boot_s", "s", "lower", _SETUP),
    PerLayer("bench.warmup_s", "s", "lower", _SETUP),
    PerLayer("bench.warmup_reps", "count", "lower", _SETUP),
    PerLayer("sources.scan_s", "s", "lower", "turns_per_s, all workloads"),
    PerLayer("functions.encode_rows_per_s", "1/s", "higher",
             "turns_per_s and batch latency on filter_* and stream_microbatch; not report_contract"),
    PerLayer("functions.langid_rows_per_s", "1/s", "higher",
             "turns_per_s and batch latency on filter_* and stream_microbatch; not report_contract"),
    PerLayer("functions.ppl_rows_per_s", "1/s", "higher",
             "turns_per_s and batch latency on filter_* and stream_microbatch; not report_contract"),
    PerLayer("functions.word_stats_rows_per_s", "1/s", "higher",
             "turns_per_s and batch latency on filter_* and stream_microbatch; not report_contract"),
    PerLayer("pipeline.score_s", "s", "lower", _FILTER),
    PerLayer("pipeline.kernel_s", "s", "lower", _FILTER),
    PerLayer("pipeline.udf_boundary_s", "s", "lower", _FILTER),
    PerLayer("pipeline.sink_s", "s", "lower", "turns_per_s and output_mb on filter_*"),
    PerLayer("pipeline.files_written", "count", "lower", "turns_per_s and output_mb on filter_*"),
    PerLayer("pipeline.bytes_written", "bytes", "lower", "output_mb on filter_*"),
    PerLayer("pipeline.bucket_skew", "ratio", "lower", "turns_per_s on filter_*"),
    PerLayer("pipeline.jobs", "count", "lower", "turns_per_s on filter_*"),
    PerLayer("scrub.scrub_s", "s", "lower", "turns_per_s on filter_pii_dense, little on filter_mixed"),
    PerLayer("scrub.gate_hit_frac", "ratio", "lower", "turns_per_s on filter_pii_dense, little on filter_mixed"),
    PerLayer("report.hits_s", "s", "lower", "turns_per_s on report_contract only"),
    PerLayer("report.dup_s", "s", "lower", "turns_per_s on report_contract only"),
    PerLayer("report.id_s", "s", "lower", "turns_per_s on report_contract only"),
    PerLayer("report.rows", "count", "lower", "output_mb on report_contract only"),
    PerLayer("report.rows_rule3", "count", "lower", "output_mb on report_contract only"),
    PerLayer("report.rows_rule10", "count", "lower", "output_mb on report_contract only"),
    PerLayer("stream.plan_s", "s", "lower", "batch latency on stream_microbatch"),
    PerLayer("stream.score_s", "s", "lower", "batch latency on stream_microbatch"),
    PerLayer("stream.write_s", "s", "lower", "batch latency on stream_microbatch"),
    PerLayer("stream.jobs_per_batch", "count", "lower", "batch latency on stream_microbatch"),
] + [
    PerLayer(f"selftime.{layer}_s", "s", "lower", "traced wall time of the workload")
    for layer in ("session", "functions", "sources", "pipeline", "scrub", "report", "stream", "bench")
] + [
    PerLayer("trace.wall_s", "s", "lower", "the traced run's own wall time"),
    PerLayer("trace.unattributed_s", "s", "lower", "wall time outside every layer span"),
    PerLayer("trace.overhead_frac", "ratio", "lower", "tracing cost / traced wall time"),
    PerLayer("trace.spans", "count", "lower", "spans recorded"),
]
