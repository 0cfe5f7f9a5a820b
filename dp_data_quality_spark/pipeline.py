"""End-to-end quality-filter pipeline over transcript tables.

One wide ``select`` computes EVERYTHING per turn — contract-derived
checks, heuristics (SQL expressions), langid + perplexity (one fused
Arrow pandas UDF, one text transfer), scrubbed text, drop reasons — so
the source is scanned exactly once (vs the reference's O(columns×rules)
jobs, quality_report.py:143-145,265-271).

Scale design:
- conversations are hash-bucketed (``pmod(xxhash64(conv_id), n_buckets)``)
  — the resume/commit unit and the write partition.  One repartition by
  bucket before scoring gives each bucket one task, so each
  ``(keep, bucket)`` directory gets one file whose rows are a pure
  function of the input; their order within the file is not (it follows
  shuffle fetch order), and no reader needs it: turns are keyed by
  ``(conv_id, turn_idx)``, with no global window (the reference's
  single-task ROW_ID shuffle, validation_rulebook.py:102-103, is gone).
- checkpoint-resume: each completed bucket appends a lineage row to the
  metrics table; a rerun filters completed buckets out of the input, and
  dynamic partition overwrite keeps data writes idempotent if a run dies
  between data and metrics commits.  ``_manifest.json`` pins the output
  to one snapshot, ``n_buckets`` and config: a rerun with any other
  raises instead of mixing two outputs.
- commit order: manifest → data → metrics.  The metrics table is the
  commit log, so a bucket counts as done only once its data is written.
- single-pass sink: the scored stream is written once, partitioned by
  (keep, bucket) — kept data and per-row drop lineage in one job — and
  per-bucket metrics aggregate from the committed columnar output, so
  the expensive scoring projection never runs twice and nothing wide is
  persisted.  A fresh run is 5 Spark jobs: 2 to score and write, 3 to
  aggregate the metrics from one scan and write them.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import FilterConfig
from .functions import heuristics as H
from .functions.perplexity import make_scorer_udf
from .functions.scrub import scrub_sql
from .functions.sqltext import ident, number, string
from .session import exists, read_text, write_text

METRICS_SCHEMA = T.StructType([
    T.StructField("partition_key", T.StringType()),
    T.StructField("snapshot_id", T.StringType()),
    T.StructField("rows_in", T.LongType()),
    T.StructField("rows_kept", T.LongType()),
    T.StructField("rows_dropped", T.LongType()),
    T.StructField("rule_hits", T.MapType(T.StringType(), T.LongType())),
    T.StructField("status", T.StringType()),
    T.StructField("run_id", T.StringType()),
    T.StructField("completed_at", T.TimestampType()),
])

NULL_REASON = "null_text"
LANG_REASON = "lang_mismatch"
PPL_REASON = "high_perplexity"
ROLLUP_REASON = "conv_low_keep_frac"

# Columns of the sink shared by the batch (run_pipeline) and stream
# (streaming.stream_filter.filtered_writer) writers; write_scored picks
# the partition columns of each.  keep is stored as int so the
# partition column's type survives a re-read.
OUTPUT_COLUMNS = [
    "CAST(keep AS INT) AS keep",
    "bucket", "conv_id", "turn_idx", "role", "tool", "ts",
    "lang", "lang_conf", "ppl", "scrubbed_text", "drop_reasons",
]
# The sink columns the metrics aggregate reads back.
SCORED_READ_SCHEMA = "keep INT, bucket INT, drop_reasons ARRAY<STRING>"


# Columns score_turns adds.  The derived columns are planned with
# lateral column aliases, which an input column of the same name would
# silently take the place of.
SCORE_COLUMNS = (
    "__score", "lang", "lang_conf", "ppl", "n_words", "repetition_ratio",
    "n_chars", "symbol_ratio", "boilerplate", "drop_reasons", "keep", "scrubbed_text",
)


def score_turns(
    df: DataFrame,
    spark: SparkSession,
    cfg: FilterConfig | None = None,
    text_col: str = "text",
    ppl_table=None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Add lang, lang_conf, ppl, heuristic columns, drop_reasons, keep and
    scrubbed_text in a single pass.  ``ppl_table`` swaps the hermetic
    import-time perplexity model for a corpus-trained one (numpy array
    from ``functions.perplexity.train_table_distributed``).  ``n_buckets``
    also adds ``bucket`` (see ``with_bucket``) in the same projection.

    The projection is planned in two DataFrame steps: a ``select`` adding
    the scorer UDF's struct (and ``bucket``), then one ``selectExpr``,
    rendered as SQL text from ``cfg``, in which each derived column
    reads the ones before it through lateral column aliases.  Each
    DataFrame step is a fixed driver cost of a stream micro-batch.
    Raises ``ValueError`` if ``df`` already has a column of
    ``SCORE_COLUMNS``: a lateral alias would read the input column."""
    cfg = cfg or FilterConfig()
    names = df.columns
    clash = [c for c in names if c.lower() in SCORE_COLUMNS]
    if clash:
        raise ValueError(f"the input already has scored column(s) {clash}: drop or rename them")
    scorer = make_scorer_udf(spark, ppl_table=ppl_table)
    t = ident(text_col)
    added = []
    if n_buckets is not None:
        if "bucket" in (c.lower() for c in names):
            df = with_bucket(df, n_buckets)  # replaced in place, as withColumn does
        else:
            added, names = [F.expr(f"{bucket_sql(n_buckets)} AS bucket")], names + ["bucket"]

    lang_ok = (
        f"lang IN ({', '.join(string(x) for x in cfg.expected_langs)})"
        if cfg.expected_langs else "FALSE"
    ) + f" AND lang_conf >= {number(cfg.lang_conf_min)}"
    fails = [
        (LANG_REASON, f"NOT ({lang_ok})"),
        (PPL_REASON, f"ppl > {number(cfg.ppl_max)}"),
        *H.heuristic_drop_reasons(cfg),
    ]
    reasons = [f"CASE WHEN {t} IS NULL THEN {string(NULL_REASON)} END"] + [
        f"CASE WHEN {t} IS NOT NULL AND ({fail}) THEN {string(reason)} END"
        for reason, fail in fails
    ]
    scrubbed = scrub_sql(t, cfg.toxicity_lexicon, pii=cfg.scrub_pii)
    # UDF first, heuristics second: every non-UDF column is buffered
    # JVM-side while batches round-trip through Python, so the Arrow
    # stage should see the narrowest possible row (original columns
    # only, none of the derived heuristic columns).
    df = df.select("*", *added, scorer(F.expr(H.scored_prefix(t, cfg))).alias("__score"))
    return df.selectExpr(
        *(ident(c) for c in names),
        *(f"__score.{f} AS {f}"
          for f in ("lang", "lang_conf", "ppl", "n_words", "repetition_ratio")),
        *H.heuristic_columns(t, cfg),
        f"array_compact(array({', '.join(reasons)})) AS drop_reasons",
        "size(drop_reasons) = 0 AS keep",
        f"CASE WHEN keep THEN {scrubbed} END AS scrubbed_text",
    )


def write_scored(scored: DataFrame, path: str, run_id: str | None = None) -> None:
    """Write ``OUTPUT_COLUMNS`` of ``scored`` to ``path``: the one sink of
    the batch (``run_pipeline``) and stream
    (``streaming.stream_filter.filtered_writer``) paths.

    Each path partitions by its commit unit.  A batch write (no
    ``run_id``) is partitioned by (keep, bucket): the bucket is what a
    resume skips or rewrites.  A stream write is partitioned by
    (run_id, keep) with ``run_id`` given, and keeps ``bucket`` as a data
    column: a micro-batch commits as one epoch, whatever its buckets.

    Dynamic overwrite replaces only the partitions this write holds, so
    rewriting a bucket after a crash, or replaying a micro-batch, is
    idempotent.  Each task writes one file per directory it holds rows
    for: the batch path routes each bucket to one task, and a stream
    micro-batch writes one file per input split and keep value."""
    if run_id is None:
        out, parts = scored.selectExpr(*OUTPUT_COLUMNS), ["keep", "bucket"]
    else:
        out = scored.selectExpr(*OUTPUT_COLUMNS, f"{string(run_id)} AS run_id")
        parts = ["run_id", "keep"]
    (
        out.write.partitionBy(*parts)
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(path)
    )


def bucket_sql(n_buckets: int) -> str:
    """A conversation's bucket as SQL: ``pmod(xxhash64(conv_id), n_buckets)``
    as an int (one parse on the driver, not a py4j call per node)."""
    return f"CAST(pmod(xxhash64(conv_id), {number(n_buckets)}) AS INT)"


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.expr(bucket_sql(n_buckets)))


def snapshot_fingerprint(df: DataFrame, explicit: str | None = None) -> str:
    """Stand-in for an Iceberg snapshot ID: stable hash of the input file
    list.  An input that reads no files (in memory, say) needs ``explicit``."""
    if explicit:
        return explicit
    files = sorted(df.inputFiles())
    if not files:
        raise ValueError("the input reads no files: pass snapshot_id to name its snapshot")
    return hashlib.md5("\n".join(files).encode()).hexdigest()[:16]


def run_manifest(
    snapshot_id: str, n_buckets: int, cfg: FilterConfig, ppl_table=None
) -> dict:
    """What an output directory's rows are a function of.  The config
    hash covers the canonical JSON of ``cfg`` (a tuple field and the same
    values as a list hash alike) and the bytes of ``ppl_table``."""
    h = hashlib.sha256(json.dumps(asdict(cfg), sort_keys=True).encode())
    if ppl_table is not None:
        h.update(ppl_table.tobytes())
    return {
        "snapshot_id": snapshot_id,
        "n_buckets": n_buckets,
        "config_hash": h.hexdigest()[:16],
    }


def check_manifest(spark: SparkSession, path: str, manifest: dict) -> bool:
    """``True`` if the manifest at ``path`` equals ``manifest``, ``False``
    if there is none.  A different one raises: resuming or overwriting
    buckets of another snapshot, bucketing or config would mix two
    outputs in one table."""
    text = read_text(spark, path)
    if text is None:
        return False
    prior = json.loads(text)
    diff = [k for k in manifest if prior.get(k) != manifest[k]]
    if diff:
        raise ValueError(
            f"{path} was written with a different "
            + ", ".join(f"{k} ({prior.get(k)!r}, now {manifest[k]!r})" for k in diff)
            + "; delete the output directory to start over"
        )
    return True


@dataclass
class PipelineResult:
    kept_path: str
    metrics_path: str
    buckets_processed: int
    buckets_skipped: int


def read_completed_buckets(spark: SparkSession, metrics_path: str) -> list[int]:
    """Sorted ids of the buckets a previous run committed; empty on a
    fresh start.

    Only a missing metrics directory counts as a fresh start, and that
    is asked of the FileSystem, not learnt from a failed read: a read
    that fails logs a listener ERROR once the session has run an
    ``Observation``.  Any read error propagates: treating it as "nothing
    completed" would reprocess every bucket and append their metrics
    rows a second time.  The explicit schema makes a directory with no
    committed part files (a crash during the metrics write leaves only
    ``_temporary/``) read as empty instead of failing schema inference.
    The table holds one row per bucket per run, so it is collected as is
    (one job)."""
    if not exists(spark, metrics_path):
        return []
    m = spark.read.schema(METRICS_SCHEMA).parquet(metrics_path)
    rows = m.filter(F.col("status") == "completed").select("partition_key").collect()
    return sorted({int(r.partition_key) for r in rows})


def rollup_keep_by_conversation(df: DataFrame, min_keep_frac: float) -> DataFrame:
    """Demote every turn of a conversation whose kept-turn fraction is
    below ``min_keep_frac`` (SFT practice: a dialogue with holes can't
    be replayed for training, so a conversation that is mostly filtered
    out should be dropped whole, not shipped as fragments).

    Rewrites ``keep`` and appends ``conv_low_keep_frac`` to
    ``drop_reasons`` on the turns being demoted (already-dropped turns
    keep their original reasons).  The fraction is computed over all
    turns of the conversation present in ``df``.

    The window partitions by ``(bucket, conv_id)``: bucket is a pure
    function of conv_id, so Spark's ``HashPartitioning(bucket)``
    satisfies the window's clustered distribution (the subset rule) and
    a DataFrame already repartitioned by bucket needs NO further
    Exchange, only an in-partition sort (plan-asserted in tests).
    """
    w = Window.partitionBy("bucket", "conv_id")
    frac = F.avg(F.col("keep").cast("int")).over(w)
    demote = F.col("keep") & (frac < F.lit(min_keep_frac))
    return df.withColumn(
        "drop_reasons",
        F.when(
            demote,
            F.concat(F.col("drop_reasons"), F.array(F.lit(ROLLUP_REASON))),
        ).otherwise(F.col("drop_reasons")),
    ).withColumn("keep", F.col("keep") & (frac >= F.lit(min_keep_frac)))


def run_pipeline(
    spark: SparkSession,
    input_df: DataFrame,
    output_dir: str,
    cfg: FilterConfig | None = None,
    n_buckets: int = 32,
    run_id: str = "run-0",
    resume: bool = True,
    snapshot_id: str | None = None,
    ppl_table=None,
) -> PipelineResult:
    """Score + filter + scrub ``input_df`` (input_hint schema), writing:

    - ``{output_dir}/_manifest.json`` — snapshot id, ``n_buckets`` and a
      config hash; an input that reads no files needs ``snapshot_id``.  A
      run into a directory whose manifest differs raises ``ValueError``
      naming the fields, whatever ``resume`` is; delete it to start over.
    - ``{output_dir}/scored``  — ONE pass, partitioned by (keep, bucket):
      ``keep=1`` subtree = kept turns with scrubbed_text (the filtered
      table, one file per bucket, rows in no set order); ``keep=0``
      subtree = per-row drop lineage (keys + reasons, no text payload).
    - ``{output_dir}/metrics`` — one lineage row per completed bucket
      (``resume=False`` replaces the table), aggregated from the written
      columnar output (a pruned 3-column scan), not a cached recompute.

    They commit in that order, in 5 Spark jobs on a fresh run.  The
    expensive scoring projection (pandas-UDF langid/ppl + scrub) runs
    exactly once, streaming into the partitioned write — no ``persist``
    of wide rows, no second scoring pass for metrics.  Metrics commit
    strictly after data, so a crash between the two leaves re-doable
    (never half-counted) buckets.  A resume that finds every bucket
    completed returns after reading the metrics (one job).
    """
    cfg = cfg or FilterConfig()
    # joined as strings: pathlib would mangle a URI ('s3a://b/o' -> 's3a:/b/o')
    out = output_dir.rstrip("/")
    scored_path = f"{out}/scored"
    kept_path = f"{scored_path}/keep=1"
    metrics_path = f"{out}/metrics"
    manifest_path = f"{out}/_manifest.json"
    snap = snapshot_fingerprint(input_df, snapshot_id)
    manifest = run_manifest(snap, n_buckets, cfg, ppl_table)

    # the manifest is written only after the metrics read, so a run that
    # raises on either check leaves the output directory untouched
    has_manifest = check_manifest(spark, manifest_path, manifest)
    done_buckets = read_completed_buckets(spark, metrics_path) if resume else []
    if not has_manifest:
        write_text(spark, manifest_path, json.dumps(manifest, sort_keys=True), overwrite=False)
    if len(done_buckets) == n_buckets:
        return PipelineResult(kept_path, metrics_path, 0, n_buckets)

    df = with_bucket(input_df, n_buckets)
    if done_buckets:
        df = df.filter(~F.col("bucket").isin(done_buckets))

    # Repartition on the bucket key BEFORE scoring: (a) scoring parallelism
    # no longer depends on input file layout (a compact parquet would
    # otherwise serialize the pandas-UDF stage onto 1-2 scan partitions);
    # (b) data arrives at the sink already partitioned by bucket, so the
    # write needs no second shuffle.  AQE never coalesces a repartition
    # with an explicit partition count, so the scoring stage keeps
    # n_buckets tasks with partition coalescing on (asserted in tests).
    df = df.repartition(n_buckets, "bucket")

    scored = score_turns(df, spark, cfg, ppl_table=ppl_table)

    if cfg.conv_min_keep_frac > 0:
        # Conversation-level demotion costs exactly ONE extra shuffle,
        # and the window itself adds none: the scalar-pandas-UDF scoring
        # stage does not propagate its child's output partitioning
        # (EvalPythonExec reports unknown — measured: any
        # distribution-requiring op after a pandas UDF re-shuffles even
        # on the identical key), so the bucket partitioning must be
        # re-established here anyway.  The explicit repartition both
        # restores the one-directory-per-task sink layout AND satisfies
        # the rollup window's (bucket, conv_id) clustered distribution
        # by the subset rule — bucket is a pure function of conv_id —
        # so the window runs with an in-partition sort only
        # (plan-asserted in tests).  scrubbed_text is re-nulled for
        # demoted turns so the keep=0 lineage subtree stays
        # payload-free.
        scored = rollup_keep_by_conversation(
            scored.repartition(n_buckets, "bucket"), cfg.conv_min_keep_frac
        ).withColumn(
            "scrubbed_text", F.when(F.col("keep"), F.col("scrubbed_text"))
        )

    write_scored(scored, scored_path)

    # lineage metrics from the committed files, in one pruned scan of
    # (keep, bucket, drop_reasons): posexplode_outer yields one row per
    # (turn, reason), or one with a null pos for a turn with no reason,
    # so each turn is counted once, at its first position.
    written = spark.read.schema(SCORED_READ_SCHEMA).parquet(scored_path)
    if done_buckets:
        written = written.filter(~F.col("bucket").isin(done_buckets))
    first = F.coalesce(F.col("pos"), F.lit(0)) == 0
    per_reason = (
        written.select(
            "bucket", "keep",
            F.posexplode_outer("drop_reasons").alias("pos", "reason"),
        )
        .groupBy("bucket", "reason")
        .agg(
            F.count_if(first).alias("rows_in"),
            F.sum(F.when(first, F.col("keep"))).alias("rows_kept"),
            F.count("reason").alias("hits"),
        )
    )
    metrics = per_reason.groupBy("bucket").agg(
        F.sum("rows_in").alias("rows_in"),
        F.sum("rows_kept").alias("rows_kept"),
        F.map_from_entries(F.collect_list(
            F.when(F.col("reason").isNotNull(), F.struct("reason", "hits"))
        )).alias("rule_hits"),
    )
    written_buckets = Observation()
    (
        metrics.select(
            F.col("bucket").cast("string").alias("partition_key"),
            F.lit(snap).alias("snapshot_id"),
            F.col("rows_in"),
            F.col("rows_kept"),
            (F.col("rows_in") - F.col("rows_kept")).alias("rows_dropped"),
            F.col("rule_hits"),
            F.lit("completed").alias("status"),
            F.lit(run_id).alias("run_id"),
            F.current_timestamp().alias("completed_at"),
        )
        .observe(written_buckets, F.count(F.lit(1)).alias("n"))
        .write.mode("append" if resume else "overwrite")
        .parquet(metrics_path)
    )
    return PipelineResult(
        kept_path, metrics_path, written_buckets.get["n"], len(done_buckets)
    )
