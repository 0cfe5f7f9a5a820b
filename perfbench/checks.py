"""Output checks.  Each returns a ``Check``: the quality figure the run
reports as ``keep_f1`` plus how many checks were attempted and failed.

- filter: keep/drop F1 against ``tests.oracle_util.decide_oracle`` on a
  seeded sample of turns; every sampled kept turn whose scrubbed text is
  not byte-identical to the oracle's counts as a failure, and so do lost
  or duplicated turns.
- report: per-rule hit counts against an independent DuckDB recount of
  the same input, plus dense 1-based ``DQ_REPORT_ID`` values.
- stream: each batch's keep decisions against the bulk pipeline's
  decisions for the same turns.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dp_data_quality_spark.config import FilterConfig
from dp_data_quality_spark.rules import regexes as rx
from tests.oracle_util import decide_oracle, f1

SAMPLE_MOD = 256          # about one turn in 256 is checked against the oracle
KEYS = ["conv_id", "turn_idx"]
F1_MIN = 0.99


@dataclass
class Check:
    keep_f1: float
    attempted: int
    failed: int
    detail: str = ""


def oracle_sample(input_df: DataFrame, scored: DataFrame, seed: int) -> list:
    """(text, keep, scrubbed_text) for a seeded sample of turns; ``keep`` is
    None for a sampled turn missing from ``scored``."""
    # salted apart from the generators' own (conv_id, turn_idx, seed) hash,
    # which deals turns into micro-batches
    salted = F.xxhash64("conv_id", "turn_idx", F.lit(seed), F.lit("oracle-sample"))
    sample = input_df.filter(F.pmod(salted, F.lit(SAMPLE_MOD)) == 0).select(*KEYS, "text")
    out = scored.select(*KEYS, F.col("keep").cast("boolean").alias("keep"), "scrubbed_text")
    return sample.join(out, KEYS, "left").select("text", "keep", "scrubbed_text").collect()


def score_against_oracle(rows, cfg: FilterConfig | None = None) -> Check:
    cfg = cfg or FilterConfig()
    tp = fp = fn = failed = 0
    for text, keep, scrubbed in rows:
        if keep is None:
            failed += 1
            continue
        keep_o, _reasons, scrub_o = decide_oracle(text, cfg)
        tp += keep and keep_o
        fp += keep and not keep_o
        fn += keep_o and not keep
        if keep and keep_o and scrubbed != scrub_o:
            failed += 1
    score = f1(tp, fp, fn)
    failed += score < F1_MIN
    return Check(score, len(rows) + 1, failed, f"tp={tp} fp={fp} fn={fn}")


def check_filter(spark: SparkSession, input_df: DataFrame, scored_path: str, seed: int) -> Check:
    scored = spark.read.parquet(scored_path)
    check = score_against_oracle(oracle_sample(input_df, scored, seed))
    n_in, n_out = input_df.count(), scored.count()
    n_keys = scored.select(*KEYS).distinct().count()
    check.attempted += 1
    check.failed += not (n_in == n_out == n_keys)
    check.detail += f" rows_in={n_in} rows_out={n_out} distinct={n_keys}"
    return check


# --- report: independent recount in DuckDB ---------------------------------

def duckdb_rule_counts(input_path: Path, content_cols: list[str], text_len: int) -> dict[int, int]:
    """Per-rule hit counts of the transcript report contract, recounted in
    DuckDB with the RE2 twins of the contract regexes."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{input_path}/*.parquet')")
        q = {
            3: " + ".join(f"count(*) FILTER (WHERE {c} IS NULL)" for c in content_cols),
            10: f"count(*) FILTER (WHERE length(trim(text)) > {text_len})",
            16: " + ".join(
                f"count(*) FILTER (WHERE regexp_matches(CAST({c} AS VARCHAR), '{rx.PHONE_FULL_RE2}')"
                f" OR regexp_matches(CAST({c} AS VARCHAR), '{rx.EMAIL_FULL_RE2}'))"
                for c in content_cols
            ),
        }
        counts = {rid: int(con.execute(f"SELECT {expr} FROM t").fetchone()[0]) for rid, expr in q.items()}
        cols = ", ".join(content_cols)
        counts[17] = int(con.execute(
            f"SELECT coalesce(sum(n - 1), 0) FROM (SELECT count(*) AS n FROM t GROUP BY {cols})"
        ).fetchone()[0])
    finally:
        con.close()
    return {rid: n for rid, n in counts.items() if n}


def check_report(spark: SparkSession, report_path: str, input_path: Path,
                 content_cols: list[str], text_len: int) -> Check:
    report = spark.read.parquet(report_path)
    got = {r["VALIDATION_ID"]: r["count"] for r in report.groupBy("VALIDATION_ID").count().collect()}
    check = compare_rule_counts(got, duckdb_rule_counts(input_path, content_cols, text_len))
    ids = report.agg(F.min("DQ_REPORT_ID"), F.max("DQ_REPORT_ID"),
                     F.countDistinct("DQ_REPORT_ID"), F.count(F.lit(1))).first()
    dense = ids[0] == 1 and ids[1] == ids[2] == ids[3]
    check.attempted += 1
    check.failed += not dense
    check.detail += f" dense_ids={dense}"
    return check


def compare_rule_counts(got: dict[int, int], want: dict[int, int]) -> Check:
    """F1 of per-rule hit counts (a hit counted by both sides is a true
    positive); every rule whose counts differ is a failed check."""
    rules = sorted(set(got) | set(want))
    tp = sum(min(got.get(r, 0), want.get(r, 0)) for r in rules)
    fp = sum(max(0, got.get(r, 0) - want.get(r, 0)) for r in rules)
    fn = sum(max(0, want.get(r, 0) - got.get(r, 0)) for r in rules)
    failed = sum(got.get(r, 0) != want.get(r, 0) for r in rules)
    return Check(f1(tp, fp, fn), len(rules), failed, f"spark={got} duckdb={want}")


# --- stream: per-batch decisions against the bulk pipeline -----------------

def check_stream(spark: SparkSession, stream_scored: str, input_df: DataFrame,
                 batch_turns: dict[str, int], seed: int) -> Check:
    """``batch_turns`` maps each ``run_id`` partition the stream wrote to
    the number of turns fed into that batch; ``input_df`` holds the turns
    fed.  The bulk decisions come from the pipeline's own scoring
    projection (``pipeline.score_turns``) over the same turns at once."""
    from dp_data_quality_spark.pipeline import score_turns

    s = spark.read.parquet(stream_scored).select(
        "run_id", *KEYS, F.col("keep").alias("keep_s"))
    b = score_turns(input_df, spark).select(*KEYS, F.col("keep").cast("int").alias("keep_b"))
    per_batch = {
        r["run_id"]: (r["n"], r["bad"])
        for r in s.join(b, KEYS, "left").groupBy("run_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((~F.col("keep_s").eqNullSafe(F.col("keep_b"))).cast("int")).alias("bad"),
        ).collect()
    }
    failed = sum(
        per_batch.get(rid, (0, 0)) != (n, 0) for rid, n in batch_turns.items()
    )
    # a turn fed to several batches (the input wraps around) is judged once
    scored = spark.read.parquet(stream_scored).dropDuplicates(KEYS)
    check = score_against_oracle(oracle_sample(input_df, scored, seed))
    check.attempted += len(batch_turns)
    check.failed += failed
    check.detail += f" batches={len(batch_turns)} batch_failures={failed}"
    return check
