"""End-to-end pipeline tests: golden-label fidelity vs the pure-Python
oracle (keep/drop F1 and byte-identical scrub), synthesis determinism,
checkpoint-resume, output stability under input perturbation, and the
sink's job counts and write plan.
"""

from __future__ import annotations

import re
import shutil

import pandas as pd
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from dp_data_quality_spark import synth
from dp_data_quality_spark.config import FilterConfig
from dp_data_quality_spark.pipeline import (
    METRICS_SCHEMA,
    SCORED_READ_SCHEMA,
    read_completed_buckets,
    rollup_keep_by_conversation,
    run_pipeline,
    score_turns,
    with_bucket,
)
from dp_data_quality_spark.streaming.stream_filter import filtered_writer, score_stream

from .conftest import executed_plans, in_job_group, part_files
from .oracle_util import decide_oracle, f1

CFG = FilterConfig()
N_CONVS = 120
SEED = 42


def staged(spark, df, path):
    """``df`` written to parquet at ``path`` and read back: run_pipeline
    names an input's snapshot by its file list, which an in-memory
    input does not have."""
    df.write.parquet(str(path))
    return spark.read.parquet(str(path))


@pytest.fixture(scope="module")
def transcripts(spark, tmp_path_factory):
    return staged(spark, synth.strip_truth(synth.transcripts(spark, N_CONVS, seed=SEED)),
                  tmp_path_factory.mktemp("transcripts") / "input")


def files_under(root):
    return {str(p.relative_to(root)): p.read_bytes() for p in root.rglob("*") if p.is_file()}


def test_synth_deterministic(spark):
    a = synth.transcripts(spark, 50, seed=7).orderBy("conv_id", "turn_idx").collect()
    b = synth.transcripts(spark, 50, seed=7).orderBy("conv_id", "turn_idx").collect()
    assert a == b
    c = synth.transcripts(spark, 50, seed=8).orderBy("conv_id", "turn_idx").collect()
    assert a != c


def test_synth_schema(transcripts):
    assert [f.name for f in transcripts.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    ]
    types = {f.name: f.dataType.simpleString() for f in transcripts.schema.fields}
    assert types["turn_idx"] == "int"
    assert types["ts"] == "timestamp"


def test_keep_drop_and_scrub_match_oracle(spark, transcripts):
    scored = score_turns(transcripts, spark, CFG)
    rows = scored.select("conv_id", "turn_idx", "text", "keep",
                         "drop_reasons", "scrubbed_text").collect()
    assert len(rows) > 500

    tp = fp = fn = 0
    mismatched_scrubs = []
    reason_mismatches = []
    for r in rows:
        keep_o, reasons_o, scrub_o = decide_oracle(r.text, CFG)
        if r.keep and keep_o:
            tp += 1
        elif r.keep and not keep_o:
            fp += 1
        elif keep_o and not r.keep:
            fn += 1
        if keep_o and r.keep and r.scrubbed_text != scrub_o:
            mismatched_scrubs.append((r.text, r.scrubbed_text, scrub_o))
        if sorted(r.drop_reasons) != sorted(reasons_o):
            reason_mismatches.append((r.text, r.drop_reasons, reasons_o))

    score = f1(tp, fp, fn)
    assert score >= 0.99, f"keep/drop F1={score} (tp={tp} fp={fp} fn={fn})"
    assert not mismatched_scrubs, mismatched_scrubs[:3]
    assert not reason_mismatches, reason_mismatches[:3]


# Prefixes and lexicon words with SQL-string and regex metacharacters
# (ASCII letters only: Java (?i) and Python re.I fold other letters
# differently), whole-text scoring and two expected languages.
ODD_CFG = FilterConfig(
    expected_langs=("en", "de"),
    score_prefix_chars=0,
    boilerplate_prefixes=("it's a (draft) |", "c:\\temp\\", "price $5.00."),
    toxicity_lexicon=("o'neil", "back\\slash", "dot.com", "us$d", "f(x", "x|y"),
)


@pytest.mark.parametrize("cfg, present, absent", [
    (ODD_CFG, ["<TOX>", "<EMAIL>", "<PHONE>"], []),
    # scrub_pii=False leaves PII in place; the lexicon still scrubs
    (FilterConfig(scrub_pii=False), ["<TOX>", "@", "555-1234"], ["<EMAIL>", "<PHONE>"]),
], ids=["sql_escapes", "scrub_pii_off"])
def test_score_turns_matches_oracle_under_config(spark, cfg, present, absent):
    texts = synth.strip_truth(synth.transcripts(spark, 30, seed=13)).toPandas().text.tolist()
    for i, text in enumerate([t for t in texts[:60] if t is not None]):
        word = cfg.toxicity_lexicon[i % len(cfg.toxicity_lexicon)]
        texts += [
            f"{cfg.boilerplate_prefixes[i % len(cfg.boilerplate_prefixes)]} {text}",
            f"{text} {word} then {word.upper()}",
            f"{text} mail alice@example.com or call 303-555-1234",
        ]
    scored = score_turns(spark.createDataFrame(pd.DataFrame({"text": texts}), "text string"),
                         spark, cfg)
    rows = scored.select("text", "keep", "drop_reasons", "scrubbed_text").collect()
    assert len(rows) == len(texts)
    mismatches = []
    for r in rows:
        keep, reasons, scrubbed = decide_oracle(r.text, cfg)
        if (r.keep, sorted(r.drop_reasons), r.scrubbed_text) != (keep, sorted(reasons), scrubbed):
            mismatches.append((r.text, r.keep, r.drop_reasons, r.scrubbed_text, scrubbed))
    assert not mismatches, mismatches[:3]
    kept_text = " ".join(r.scrubbed_text for r in rows if r.keep)
    assert all(p in kept_text for p in present), present
    assert not any(a in kept_text for a in absent), absent
    assert any("boilerplate" in r.drop_reasons for r in rows)


def test_score_turns_rejects_an_input_with_a_scored_column(spark):
    # the derived columns read each other through lateral column
    # aliases, which a same-named input column would silently replace
    base = spark.createDataFrame(pd.DataFrame({"conv_id": ["c1"], "text": ["hello there"]}))
    for name in ("lang", "KEEP", "drop_reasons", "scrubbed_text", "__score"):
        with pytest.raises(ValueError, match=name):
            score_turns(base.withColumn(name, F.lit(1)), spark, CFG)


def test_score_stream_replaces_an_input_bucket_in_place(spark):
    base = spark.createDataFrame(pd.DataFrame({"conv_id": ["c1", "c2"], "text": ["a b", "c d"]}))
    scored = score_stream(base.withColumn("bucket", F.lit(-1)), spark, CFG, n_buckets=4)
    assert scored.columns[:3] == ["conv_id", "text", "bucket"]
    expected = {r.conv_id: r.bucket for r in with_bucket(base, 4).collect()}
    assert {r.conv_id: r.bucket for r in scored.collect()} == expected


def test_pipeline_writes_and_lineage(spark, transcripts, tmp_path):
    res = run_pipeline(spark, transcripts, str(tmp_path / "out"),
                       cfg=CFG, n_buckets=8, run_id="r1")
    kept = spark.read.parquet(res.kept_path)
    metrics = spark.read.parquet(res.metrics_path)

    assert res.buckets_processed == metrics.count() > 0
    total_in = metrics.agg(F.sum("rows_in")).first()[0]
    total_kept = metrics.agg(F.sum("rows_kept")).first()[0]
    assert total_in == transcripts.count()          # lineage covers every row
    assert total_kept == kept.count()
    assert metrics.filter("rows_in != rows_kept + rows_dropped").count() == 0
    # every metrics row carries the snapshot fingerprint + completion status
    assert metrics.filter("status != 'completed'").count() == 0
    hit_maps = metrics.select("rule_hits").collect()
    all_reasons = {k for r in hit_maps for k in (r.rule_hits or {})}
    assert "lang_mismatch" in all_reasons
    assert "null_text" in all_reasons


def test_pipeline_resume_skips_completed(spark, transcripts, tmp_path):
    out = str(tmp_path / "out")
    full = run_pipeline(spark, transcripts, out, cfg=CFG, n_buckets=8, run_id="r1")
    kept_full = spark.read.parquet(full.kept_path)
    baseline = sorted(map(tuple, kept_full.select("conv_id", "turn_idx").collect()))

    # simulate a crash after 3 buckets: keep only 3 metrics rows
    metrics = spark.read.parquet(full.metrics_path)
    partial = metrics.limit(3).cache()
    partial.count()
    shutil.rmtree(full.metrics_path)
    partial.write.mode("overwrite").parquet(full.metrics_path)

    res2 = run_pipeline(spark, transcripts, out, cfg=CFG, n_buckets=8, run_id="r2")
    assert res2.buckets_skipped == 3
    assert res2.buckets_processed == full.buckets_processed - 3

    kept2 = spark.read.parquet(res2.kept_path)
    assert sorted(map(tuple, kept2.select("conv_id", "turn_idx").collect())) == baseline
    # no bucket processed twice
    m2 = spark.read.parquet(res2.metrics_path)
    assert m2.groupBy("partition_key").count().filter("count > 1").count() == 0

    # every bucket completed: the rerun runs no job beyond the metrics read
    # and leaves the scored files as they are
    scored = tmp_path / "out" / "scored"
    before = files_under(scored)
    res3, jobs = in_job_group(spark, "resume-done", lambda: run_pipeline(
        spark, transcripts, out, cfg=CFG, n_buckets=8, run_id="r3"))
    assert (res3.buckets_processed, res3.buckets_skipped) == (0, 8)
    _, read_jobs = in_job_group(spark, "resume-done-read", lambda: read_completed_buckets(
        spark, res3.metrics_path))
    assert len(jobs) == len(read_jobs)
    assert files_under(scored) == before


def test_stable_ordering_under_input_shuffle(spark, transcripts, tmp_path):
    shuffled = transcripts.orderBy(F.rand(seed=1)).repartition(7)
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    in_job_group(spark, "order-a", lambda: run_pipeline(
        spark, transcripts, out_a, cfg=CFG, n_buckets=4, run_id="ra"))
    run_pipeline(spark, shuffled, out_b, cfg=CFG, n_buckets=4, run_id="rb")

    a = spark.read.parquet(out_a + "/scored/keep=1")
    b = spark.read.parquet(out_b + "/scored/keep=1")
    cols = ["conv_id", "turn_idx", "scrubbed_text"]
    pa = a.select(cols).orderBy("conv_id", "turn_idx").toPandas()
    pb = b.select(cols).orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(pa, pb)
    # the scored write's one Sort is the writer's own, on the partition
    # columns: rows within a file are in no promised order.  Its one
    # Exchange is the repartition before scoring: the write adds none.
    (write,) = [p for p in executed_plans(spark, "order-a")
                if any(name == "ArrowEvalPython" for name, _ in p)]
    sorts = [args for name, args in write if name == "Sort"]
    assert len(sorts) == 1, write
    assert re.fullmatch(r"\[keep#\d+ ASC NULLS FIRST, bucket#\d+ ASC NULLS FIRST\], false, 0",
                        sorts[0]), sorts
    assert [name for name, _ in write].count("Exchange") == 1, write


def test_skew_mega_thread_completes(spark, tmp_path):
    df = staged(spark, synth.strip_truth(
        synth.transcripts(spark, 40, seed=3, mega_threads=1, mega_turns=20_000)
    ), tmp_path / "input")
    res = run_pipeline(spark, df, str(tmp_path / "out"), cfg=CFG,
                       n_buckets=8, run_id="skew")
    metrics = spark.read.parquet(res.metrics_path)
    assert metrics.agg(F.sum("rows_in")).first()[0] == df.count()


def test_intent_level_f1(spark):
    """Keep/drop vs the synthesizer's planted intent (the `_kind` truth
    column): clean/pii/toxic turns keep (PII+toxicity are scrubbed, not
    dropped); every planted defect kind drops.  BASELINE target ≥ 0.99."""
    df = synth.transcripts(spark, 400, seed=42)
    scored = score_turns(df, spark, CFG)
    keep_kinds = {"clean_en", "pii", "toxic"}
    rows = scored.select("_kind", "keep").groupBy("_kind", "keep").count().collect()
    tp = fp = fn = 0
    for r in rows:
        if r._kind in keep_kinds:
            if r.keep:
                tp += r["count"]
            else:
                fn += r["count"]
        elif r.keep:
            fp += r["count"]
    score = f1(tp, fp, fn)
    assert score >= 0.995, f"intent F1={score} (tp={tp} fp={fp} fn={fn})"


def test_crash_between_data_and_metrics_is_idempotent(spark, transcripts, tmp_path):
    """Worst-case crash window: all data partitions written, metrics
    commit never happened.  A rerun must reprocess (no completed buckets
    recorded) and converge to the same final tables — dynamic partition
    overwrite makes the data write idempotent."""
    out = str(tmp_path / "out")
    full = run_pipeline(spark, transcripts, out, cfg=CFG, n_buckets=8, run_id="r1")
    baseline = sorted(map(tuple, spark.read.parquet(full.kept_path)
                          .select("conv_id", "turn_idx").collect()))
    shutil.rmtree(full.metrics_path)  # simulate dying before metrics commit

    res2 = run_pipeline(spark, transcripts, out, cfg=CFG, n_buckets=8, run_id="r2")
    assert res2.buckets_skipped == 0
    assert res2.buckets_processed == full.buckets_processed
    kept2 = sorted(map(tuple, spark.read.parquet(res2.kept_path)
                       .select("conv_id", "turn_idx").collect()))
    assert kept2 == baseline
    m = spark.read.parquet(res2.metrics_path)
    assert m.groupBy("partition_key").count().filter("count > 1").count() == 0


def test_empty_input_returns_clean_result(spark, transcripts, tmp_path):
    # zero rows take the normal path: the scored table and the metrics
    # table are committed and read back empty.  The predicate reads the
    # data: a literal FALSE would optimize the input to an empty
    # relation that reads no files.
    empty = transcripts.filter(F.col("turn_idx") < 0)
    res = run_pipeline(spark, empty, str(tmp_path / "out"), n_buckets=4, run_id="r0")
    assert res.buckets_processed == 0
    assert res.buckets_skipped == 0
    scored = spark.read.schema(SCORED_READ_SCHEMA).parquet(str(tmp_path / "out" / "scored"))
    assert scored.count() == 0
    assert spark.read.schema(METRICS_SCHEMA).parquet(res.metrics_path).count() == 0


def test_run_pipeline_leaves_session_conf_unchanged(spark, transcripts, tmp_path):
    """run_pipeline passes its write options per write, so the session
    conf after a run is the one before it.  With AQE partition coalescing
    on, the scoring stage still runs one task per bucket: AQE never
    coalesces a repartition with an explicit partition count."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    n_buckets = 16  # above the 4 input partitions and 4 shuffle partitions
    before = {r.key: r.value for r in spark.sql("SET").collect()}
    _, jobs = in_job_group(spark, "conf-check", lambda: run_pipeline(
        spark, transcripts, str(tmp_path / "out"), cfg=CFG, n_buckets=n_buckets, run_id="c"))
    after = {r.key: r.value for r in spark.sql("SET").collect()}
    assert after == before
    # score + write (2), metrics aggregate from one scan + write (3)
    assert len(jobs) == 5, jobs

    st = spark.sparkContext.statusTracker()
    # once a session has run more than spark.ui.retainedStages stages, the
    # status store evicts skipped stages first, so a job's skipped stage
    # ids can have no StageInfo; skipped stages ran no tasks
    infos = [st.getStageInfo(sid) for jid in jobs for sid in st.getJobInfo(jid).stageIds]
    tasks = [i.numTasks for i in infos if i is not None]
    # every other stage (input scan, metrics scan and aggregates) has at
    # most 4 tasks here, so the widest stage is the scoring stage
    assert max(tasks) == n_buckets, tasks


def test_filtered_writer_runs_one_job(spark, transcripts, tmp_path):
    """A stream micro-batch write is 1 Spark job with no shuffle: each
    input split scores its rows and writes them."""
    write = filtered_writer(str(tmp_path / "out"))
    batch = score_stream(transcripts, spark, CFG, n_buckets=8)
    _, jobs = in_job_group(spark, "stream-write", lambda: write(batch, 0))
    assert len(jobs) == 1, jobs
    (plan,) = executed_plans(spark, "stream-write")
    assert "Exchange" not in [name for name, _ in plan], plan


def test_batch_writes_one_file_per_keep_bucket_directory(spark, transcripts, tmp_path):
    """Each bucket is scored and written by one task, so each
    (keep, bucket) directory holds one part file, however many input
    splits fed it."""
    run_pipeline(spark, transcripts.repartition(5), str(tmp_path / "out"), cfg=CFG,
                 n_buckets=8, run_id="r")
    parts = part_files(tmp_path / "out" / "scored")
    assert set(parts) == {f"keep={k}/bucket={b}" for k in (0, 1) for b in range(8)}, parts
    assert set(parts.values()) == {1}, parts


def test_resume_after_crash_in_metrics_write_starts_fresh(spark, transcripts, tmp_path):
    """A crash during the first metrics write leaves only ``_temporary/``
    in the metrics directory: no bucket completed, so the rerun starts
    fresh and skips nothing."""
    out = tmp_path / "out"
    (out / "metrics" / "_temporary" / "0").mkdir(parents=True)
    res = run_pipeline(spark, transcripts, str(out), cfg=CFG, n_buckets=4, run_id="r1")
    assert res.buckets_skipped == 0
    assert res.buckets_processed == 4
    metrics = spark.read.parquet(res.metrics_path)
    assert metrics.agg(F.sum("rows_in")).first()[0] == transcripts.count()


def test_unreadable_metrics_raise_instead_of_restarting(spark, transcripts, tmp_path):
    """Only a missing metrics directory means a fresh start.  Any other
    read error propagates: treating it as "nothing completed" would
    reprocess every bucket and append their metrics rows a second time."""
    out = tmp_path / "out"
    (out / "metrics").mkdir(parents=True)
    (out / "metrics" / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError, match="not a Parquet file"):
        run_pipeline(spark, transcripts, str(out), cfg=CFG, n_buckets=4, run_id="r1")
    assert not (out / "scored").exists()


def test_missing_metrics_read_as_fresh_start_without_a_spark_read(spark, tmp_path, monkeypatch):
    """A missing metrics directory is found with the FileSystem, not by
    a ``spark.read`` expected to fail: once a session has run an
    ``Observation``, that failed read logs a listener ERROR on every
    later fresh run."""
    from pyspark.sql import SparkSession

    def no_read(self):
        raise AssertionError("read_completed_buckets read a missing path")

    monkeypatch.setattr(SparkSession, "read", property(no_read))
    assert read_completed_buckets(spark, str(tmp_path / "missing")) == []


def test_rerun_with_other_n_buckets_raises(spark, transcripts, tmp_path):
    """Resuming a 4-bucket output with 8 buckets would skip buckets 0-3
    and write the turns that now hash to buckets 4-7 a second time.  The
    manifest makes the rerun raise instead, and so does an overwrite,
    which would leave the old bucket directories behind."""
    out = str(tmp_path / "out")
    run_pipeline(spark, transcripts, out, cfg=CFG, n_buckets=4, run_id="r1")
    before = files_under(tmp_path / "out")
    for resume in (True, False):
        with pytest.raises(ValueError, match="n_buckets"):
            run_pipeline(spark, transcripts, out, cfg=CFG, n_buckets=8,
                         run_id="r2", resume=resume)
    assert files_under(tmp_path / "out") == before


def test_rerun_with_other_snapshot_or_config_raises(spark, transcripts, tmp_path):
    """A rerun on another snapshot would skip every completed bucket and
    never write the new snapshot's turns; one with another config would
    mix two filters in one table.  Both raise.  The same snapshot and
    config, with tuple fields given as lists, still resumes."""
    out = str(tmp_path / "out")
    run_pipeline(spark, transcripts, out, cfg=CFG, n_buckets=4, run_id="r1",
                 snapshot_id="snap-a")
    other = synth.strip_truth(synth.transcripts(spark, 30, seed=SEED + 1))
    with pytest.raises(ValueError, match="snapshot_id"):
        run_pipeline(spark, other, out, cfg=CFG, n_buckets=4, run_id="r2",
                     snapshot_id="snap-b")
    with pytest.raises(ValueError, match="config_hash"):
        run_pipeline(spark, transcripts, out, cfg=FilterConfig(ppl_max=1e4),
                     n_buckets=4, run_id="r2", snapshot_id="snap-a")
    same = FilterConfig(expected_langs=["en"],
                        boilerplate_prefixes=list(CFG.boilerplate_prefixes))
    res = run_pipeline(spark, transcripts, out, cfg=same, n_buckets=4, run_id="r2",
                       snapshot_id="snap-a")
    assert (res.buckets_processed, res.buckets_skipped) == (0, 4)


def test_input_without_files_needs_snapshot_id(spark, transcripts, tmp_path):
    """Inputs that read no files all have the same file list, so two
    different ones would get one snapshot id, and the second run would
    skip every bucket and keep the first input's rows.  Without an
    explicit ``snapshot_id`` such an input raises before anything is
    written."""
    out = tmp_path / "out"
    inputs = [synth.strip_truth(synth.transcripts(spark, 100, seed=seed)) for seed in (1, 2)]
    for df in inputs + [transcripts.filter(F.lit(False))]:
        with pytest.raises(ValueError, match="snapshot_id"):
            run_pipeline(spark, df, str(out), cfg=CFG, n_buckets=4, run_id="r")
        assert not out.exists()


def test_rerun_without_resume_replaces_metrics(spark, transcripts, tmp_path):
    """``resume=False`` rewrites every bucket, so its metrics replace the
    earlier run's: one row per bucket, and the rows count each input
    turn once."""
    out = str(tmp_path / "out")
    run_pipeline(spark, transcripts, out, cfg=CFG, n_buckets=4, run_id="r1")
    res = run_pipeline(spark, transcripts, out, cfg=CFG, n_buckets=4, run_id="r2",
                       resume=False)
    assert (res.buckets_processed, res.buckets_skipped) == (4, 0)
    metrics = spark.read.parquet(res.metrics_path)
    assert metrics.count() == 4
    assert metrics.agg(F.sum("rows_in")).first()[0] == transcripts.count()
    assert {r.run_id for r in metrics.select("run_id").collect()} == {"r2"}


def test_uri_output_keeps_scheme(spark, transcripts, tmp_path):
    out = (tmp_path / "out").as_uri()
    res = run_pipeline(spark, transcripts, out, cfg=CFG, n_buckets=2, run_id="u")
    assert res.kept_path == out + "/scored/keep=1"
    assert res.metrics_path == out + "/metrics"
    metrics = spark.read.parquet(res.metrics_path)
    assert metrics.agg(F.sum("rows_in")).first()[0] == transcripts.count()
    assert (tmp_path / "out" / "_manifest.json").exists()


def test_transcripts_pipeline_pinned(spark):
    # the driver oracle for transcripts_pipeline is a pinned VALUES table
    # (the seeded synthetic input makes the output a constant); recompute
    # it here so any scoring-semantics drift fails CI before the driver
    # ever compares against a stale pin.
    import __spark_entry__ as E

    got = sorted(
        ((r.reason, r["count"]) for r in
         E.q_transcripts_pipeline(spark, "unused").collect()),
        key=lambda t: (t[0] is None, t[0] or ""),
    )
    assert got == sorted(
        E.TRANSCRIPTS_PIPELINE_PINNED, key=lambda t: (t[0] is None, t[0] or "")
    )


def test_conversation_rollup_demotes_whole_conversations(spark, transcripts, tmp_path):
    cfg = FilterConfig(conv_min_keep_frac=0.6)
    res = run_pipeline(spark, transcripts, str(tmp_path / "roll"),
                       cfg=cfg, n_buckets=8, run_id="r")
    scored = spark.read.parquet(str(tmp_path / "roll" / "scored"))

    # per conversation, either every turn survived the rollup intact or
    # the whole conversation was demoted; demoted kept-turns carry the
    # rollup reason
    frac = scored.groupBy("conv_id").agg(
        F.avg(F.col("keep")).alias("kept_frac"),
        F.sum(F.array_contains("drop_reasons", "conv_low_keep_frac")
              .cast("int")).alias("n_rollup_reason"),
    ).collect()
    demoted = {r.conv_id for r in frac if r.n_rollup_reason > 0}
    for r in frac:
        if r.conv_id in demoted:
            assert r.kept_frac == 0.0, r  # demotion is all-or-nothing
        # conversations at/above the threshold never carry the reason
    # cross-check against the default run: every demoted conversation
    # had keep_frac < 0.6 there, every untouched one >= 0.6
    base = run_pipeline(spark, transcripts, str(tmp_path / "base"),
                        cfg=CFG, n_buckets=8, run_id="b")
    base_frac = {
        r.conv_id: r.f
        for r in spark.read.parquet(str(tmp_path / "base" / "scored"))
        .groupBy("conv_id").agg(F.avg(F.col("keep")).alias("f")).collect()
    }
    assert demoted, "fixture should contain at least one low-quality conversation"
    for cid, f_ in base_frac.items():
        assert (cid in demoted) == (0 < f_ < 0.6), (cid, f_)


def test_conversation_rollup_window_rides_bucket_partitioning(spark, transcripts):
    # subset rule: a window over (bucket, conv_id) on a DataFrame
    # repartitioned by bucket alone must add NO Exchange (bucket is a
    # pure function of conv_id)
    df = (with_bucket(transcripts, 8)
          .withColumn("keep", F.length("text") > 5)
          .withColumn("drop_reasons", F.array().cast("array<string>"))
          .repartition(8, "bucket"))
    rolled = rollup_keep_by_conversation(df, 0.6)
    plan = rolled._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan  # only the repartition itself


def test_conversation_rollup_costs_exactly_one_extra_exchange(spark, transcripts):
    # through the full scoring stage: the scalar-pandas-UDF projection
    # does not propagate partitioning, so the rollup re-establishes the
    # bucket partitioning once — and the window adds nothing on top
    def plan_for(rollup: bool):
        df = with_bucket(transcripts, 8).repartition(8, "bucket")
        scored = score_turns(df, spark, CFG)
        if rollup:
            scored = rollup_keep_by_conversation(scored.repartition(8, "bucket"), 0.6)
        return scored._jdf.queryExecution().executedPlan().toString()

    assert plan_for(True).count("Exchange") == plan_for(False).count("Exchange") + 1
