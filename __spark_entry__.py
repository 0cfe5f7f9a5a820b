"""Query contract: the paper-path queries and their DuckDB oracles.

`entry(spark)` smoke-runs the quality-filter scoring pass on sf0.001;
`queries()` exposes the four paper-path queries (the quality-filter
drop counts, the contract's golden vectors, the quality report over
documents and the PII scrub); `oracle_sql()` gives the DuckDB-equivalent
SQL for each.  tests/test_oracle.py runs every query against its oracle.

Oracle-parity design notes:
- Spark runs non-ANSI (`spark.sql.ansi.enabled=false`) — the reference
  contract depends on NULL-on-malformed-cast semantics.  Each query
  callable sets this on the session it is given.
- Injected-data fragments (PII, duplicate rows) are written in the SQL
  subset both dialects share and used verbatim on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dp_data_quality_spark.config import ColumnSpec, FilterConfig, RulesConfig
from dp_data_quality_spark.rules import contract as C
from dp_data_quality_spark.rules import regexes as rx

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _prep(spark: SparkSession) -> None:
    """Contract semantics on whatever session the caller hands us."""
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# === flagship =============================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full quality-filter scoring pass (contract heuristics +
    fused langid/perplexity pandas UDF + scrub) over sf0.001 documents
    mapped to the transcript input_hint schema."""
    _prep(spark)
    from dp_data_quality_spark.pipeline import score_turns

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    transcripts = docs.select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.when(F.col("doc_id") % 2 == 0, "user").otherwise("assistant").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")).alias("ts"),
    )
    scored = score_turns(transcripts, spark, FilterConfig())
    return scored.select(
        "conv_id", "turn_idx", "role", "lang", "lang_conf", "ppl",
        "n_chars", "n_words", "keep", "drop_reasons", "scrubbed_text",
    )


# === the 17-rule validation contract ======================================

GOLDEN_VECTORS: list[str | None] = [
    "-1", "2", "", "-2147483649", "2147483648", "2e8", "1.0", "1.5",
    "abc", "0", "32768", "-32768", "9223372036854775807",
    "9223372036854775808", "3.402823466e38", "3.402823467e38", "1e-45",
    "2.225e-307", "1e-308", "1.79769e308", "1.8e308", "192.168.1.1",
    "256.1.1.1", "::1", "2001:db8::ff00:42:8329", "1700000000",
    "9999999999999", "2023-01-15 10:30:45", "15/01/2023 10:30:45,123",
    "not-a-date", "bob@example.com", "303-555-1234", "+1 415-555-2468",
    "hello world", "12.", "-", ".", "+", "1e", "e5", "0.0", "-0.5",
    "1.2.3", "10.0.0.256", None,
]


def q_contract_golden_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rules 4-16 on the reference's golden test vectors (and edge cases),
    one wide select — the per-value contract, bit-for-bit."""
    _prep(spark)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(GOLDEN_VECTORS)], "idx int, value string"
    )
    c = F.col("value")
    return df.select(
        "idx",
        "value",
        C.numeric_fail(c).alias("numeric_fail"),
        C.integer_fail(c).alias("integer_fail"),
        C.short_fail(c).alias("short_fail"),
        C.long_fail(c).alias("long_fail"),
        C.float_fail(c).alias("float_fail"),
        C.double_fail(c).alias("double_fail"),
        C.ipv4_fail(c).alias("ipv4_fail"),
        C.ipv6_fail(c).alias("ipv6_fail"),
        C.epoch_fail(c).alias("epoch_fail"),
        C.timestamp_fail(c).alias("timestamp_fail"),
        C.pii_fail(c).alias("pii_fail"),
        C.length_fail(c, 10).alias("len10_fail"),
    )


def _sql_values_vectors() -> str:
    rows = []
    for i, v in enumerate(GOLDEN_VECTORS):
        lit = "NULL" if v is None else "'" + v.replace("'", "''") + "'"
        rows.append(f"({i}, {lit})")
    return "(VALUES " + ", ".join(rows) + ") t(idx, value)"


# Spark non-ANSI string→integral cast, emulated in DuckDB SQL.
# Measured legacy language (probe, Spark 4 non-ANSI): optional sign, then
# digits with optional '.frac' OR a bare '.frac' (which parses as 0 —
# '.'→0, '-.5'→0, '5.'→5); exponents/other chars → NULL; truncation
# toward zero; whitespace trimmed.
def _sql_spark_integral(c: str) -> str:
    ipart = f"regexp_replace(trim({c}), '\\.[0-9]*$', '')"
    return (
        f"(CASE WHEN regexp_matches(trim({c}), '^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]*)$') "
        f"THEN TRY_CAST(CASE WHEN {ipart} IN ('', '+', '-') THEN '0' ELSE {ipart} END AS BIGINT) "
        f"ELSE NULL END)"
    )


def _sql_nn(c: str, fail: str) -> str:
    """Fail attribution among non-null cells (contract._nn)."""
    return f"({c} IS NOT NULL AND coalesce({fail}, TRUE))"


def _sql_shape(c: str, second: str) -> str:
    return (
        f"(regexp_matches({c}, '{rx.NUMERIC_CHARS_RE2}') AND "
        f"(regexp_matches({c}, '{second}') OR regexp_matches({c}, '{rx.SCI_SHAPE_RE2}')))"
    )


def _sql_integral_fail(c: str, lo: int, hi: int) -> str:
    v = _sql_spark_integral(c)
    shape = _sql_shape(c, rx.INTEGRAL_SHAPE_RE2)
    in_range = f"coalesce({v} BETWEEN {lo} AND {hi}, FALSE)"
    return _sql_nn(c, f"NOT ({shape} AND {in_range})")


def _sql_fractional_fail(c: str, t: str, lo_pos: float, up_pos: float,
                         lo_neg: float, up_neg: float) -> str:
    v = f"TRY_CAST({c} AS {t})"
    shape = _sql_shape(c, rx.DECIMAL_SHAPE_RE2)
    in_range = (
        f"coalesce((({v} <= {up_pos!r} AND {v} >= {lo_pos!r}) OR "
        f"({v} >= {up_neg!r} AND {v} <= {lo_neg!r}) OR {v} = 0.0), FALSE)"
    )
    return _sql_nn(c, f"NOT ({shape} AND {in_range})")


def _sql_numeric_fail(c: str) -> str:
    return _sql_nn(c, f"NOT {_sql_shape(c, rx.DECIMAL_SHAPE_RE2)}")


def _sql_epoch_fail(c: str) -> str:
    sec = f"{_sql_spark_integral(c)} IS NULL"
    ms = f"TRY_CAST({c} AS DOUBLE) IS NULL"
    return _sql_nn(c, f"(CASE WHEN length({c}) <= 10 THEN {sec} ELSE {ms} END)")


def _sql_rlike(c: str, pattern: str) -> str:
    return f"regexp_matches({c}, '{pattern}')"


def _sql_pii_fail(c: str) -> str:
    hit = f"({_sql_rlike(c, rx.PHONE_FULL_RE2)} OR {_sql_rlike(c, rx.EMAIL_FULL_RE2)})"
    return f"({c} IS NOT NULL AND {hit})"


def _sql_len_fail(c: str, limit: int) -> str:
    return _sql_nn(c, f"length(trim({c})) > {limit}")


FB = C.FLOAT_BOUNDS
DB = C.DOUBLE_BOUNDS

SQL_CONTRACT_GOLDEN_VECTORS = f"""
SELECT idx, value,
       {_sql_numeric_fail('value')} AS numeric_fail,
       {_sql_integral_fail('value', -2147483648, 2147483647)} AS integer_fail,
       {_sql_integral_fail('value', -32768, 32767)} AS short_fail,
       {_sql_integral_fail('value', -9223372036854775808, 9223372036854775807)} AS long_fail,
       {_sql_fractional_fail('value', 'FLOAT', FB[0], FB[1], FB[2], FB[3])} AS float_fail,
       {_sql_fractional_fail('value', 'DOUBLE', DB[0], DB[1], DB[2], DB[3])} AS double_fail,
       {_sql_nn('value', 'NOT ' + _sql_rlike('value', rx.IPV4_RE2))} AS ipv4_fail,
       {_sql_nn('value', 'NOT ' + _sql_rlike('value', rx.IPV6_RE2))} AS ipv6_fail,
       {_sql_epoch_fail('value')} AS epoch_fail,
       {_sql_nn('value', f"NOT ({_sql_rlike('value', rx.TIMESTAMP_YMD_RE2)} OR {_sql_rlike('value', rx.TIMESTAMP_DMY_RE2)})")} AS timestamp_fail,
       {_sql_pii_fail('value')} AS pii_fail,
       {_sql_len_fail('value', 10)} AS len10_fail
FROM {_sql_values_vectors()}
"""


# --- full quality report over documents -----------------------------------
# Shared injected-data fragment (valid in BOTH SQL dialects): nulls via
# nullif, duplicate rows via a re-keyed union of every 50th doc.
_AUG_DOCS_SQL = """
SELECT doc_id, text, nullif(lang, 'zh') AS lang, source, n_chars FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text, nullif(lang, 'zh') AS lang, source, n_chars
FROM documents WHERE doc_id % 50 = 0
"""

_DOCS_CONFIG = RulesConfig(columns=[
    ColumnSpec("doc_id", data_type="long"),
    ColumnSpec("text", data_type="string", length_total=500),
    ColumnSpec("lang", data_type="varchar", length_total=2),
    ColumnSpec("n_chars", data_type="integer"),
    ColumnSpec("missing_col", data_type="string"),  # rule 2: in config, not in data
    # 'source' present in data but not in config → rule 1
])


def q_quality_report_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's end-to-end quality report (quality_report.py:229-273)
    over the documents table — schema rules, nulls, PII, datatypes, length,
    duplicates — aggregated to (COLUMN_NAME, VALIDATION_ID, n_fails),
    ROUND-TRIPPED through the reference-parity CSV report sink
    (quality_report.py:209-215 → ``__main__._report_cmd``): the returned
    DataFrame is the header-CSV read back with the pre-write schema, so
    the oracle comparison covers the sink encode/decode too."""
    import re as _re

    _prep(spark)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    aug = spark.sql(_AUG_DOCS_SQL)
    from dp_data_quality_spark.plans.report import build_quality_report

    report = build_quality_report(
        aug, _DOCS_CONFIG, table_name="documents", key_cols=["doc_id"]
    )
    agg = (
        report.groupBy("COLUMN_NAME", "VALIDATION_ID")
        .agg(F.count("*").alias("n_fails"))
    )
    sink = "/tmp/spark_graft_report_" + _re.sub(r"\W+", "_", sf_dir).strip("_")
    agg.write.mode("overwrite").option("header", True).csv(sink)
    return spark.read.schema(agg.schema).option("header", True).csv(sink)


def _sql_quality_report_documents() -> str:
    aug = _AUG_DOCS_SQL
    # per-(column, rule) fail exprs over the augmented table; text/lang are
    # strings; doc_id/n_chars are validated on their string form (the
    # reference casts everything through string regexes).
    checks = []
    for col in ["DOC_ID", "TEXT", "LANG", "SOURCE", "N_CHARS"]:
        src = col.lower()
        c = f"CAST({src} AS VARCHAR)"
        checks.append((col, 3, f"{src} IS NULL"))
        checks.append((col, 16, _sql_pii_fail(c)))
    checks.append(("DOC_ID", 7, _sql_integral_fail("CAST(doc_id AS VARCHAR)",
                                                   -9223372036854775808, 9223372036854775807)))
    checks.append(("TEXT", 10, _sql_len_fail("CAST(text AS VARCHAR)", 500)))
    checks.append(("LANG", 11, _sql_len_fail("CAST(lang AS VARCHAR)", 2)))
    checks.append(("N_CHARS", 5, _sql_integral_fail("CAST(n_chars AS VARCHAR)",
                                                    -2147483648, 2147483647)))
    unions = [
        f"SELECT {col!r} AS COLUMN_NAME, {rid} AS VALIDATION_ID, count(*) AS n_fails "
        f"FROM aug WHERE {expr} HAVING count(*) > 0"
        for col, rid, expr in checks
    ]
    # rule 17: duplicate rows (content = all cols except doc_id), non-first
    dup = (
        "SELECT NULL AS COLUMN_NAME, 17 AS VALIDATION_ID, count(*) AS n_fails FROM ("
        "  SELECT row_number() OVER (PARTITION BY text, lang, source, n_chars ORDER BY doc_id) AS rn FROM aug"
        ") WHERE rn > 1 HAVING count(*) > 0"
    )
    # rules 1/2: schema reconciliation (constants for this config)
    schema_rows = (
        "SELECT 'SOURCE' AS COLUMN_NAME, 1 AS VALIDATION_ID, 1 AS n_fails "
        "UNION ALL SELECT 'MISSING_COL', 2, 1"
    )
    return (
        f"WITH aug AS ({aug})\n"
        + "\nUNION ALL\n".join([schema_rows] + unions + [dup])
    )


# === scrub ================================================================

# Injected PII, same fragment both dialects ('||' concat works in both).
_PII_DOCS_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 5 = 0 THEN text || ' Contact alice@example.com or call 303-555-1234.'
            WHEN doc_id % 7 = 0 THEN text || ' SSN 123-45-6789 host 10.0.42.7 frakking fast'
            ELSE text END AS text
FROM documents
"""


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/toxicity scrub chain (email→SSN→phone→IP→lexicon) over
    documents with injected PII — byte-identical output is the point."""
    _prep(spark)
    from dp_data_quality_spark.functions.scrub import pii_hit_flags, scrub_text

    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    d = spark.sql(_PII_DOCS_SQL)
    flags = pii_hit_flags(F.col("text"))
    return d.select(
        "doc_id",
        scrub_text(F.col("text"), FilterConfig().toxicity_lexicon).alias("scrubbed"),
        flags["pii_email"].alias("has_email"),
        flags["pii_phone"].alias("has_phone"),
        flags["pii_ssn"].alias("has_ssn"),
        flags["pii_ip"].alias("has_ip"),
    )


def _sql_scrub_pii() -> str:
    from dp_data_quality_spark.functions.scrub import (
        EMAIL_TOKEN, IP_TOKEN, PHONE_TOKEN, SSN_TOKEN, TOX_TOKEN,
    )

    steps = [
        (rx.SCRUB_EMAIL, EMAIL_TOKEN),
        (rx.SCRUB_SSN, SSN_TOKEN),
        (rx.SCRUB_PHONE, PHONE_TOKEN),
        (rx.SCRUB_IPV4, IP_TOKEN),
    ]
    expr = "text"
    for pattern, token in steps:
        p = pattern.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{token}', 'g')"
    lex = "|".join(FilterConfig().toxicity_lexicon)
    expr = f"regexp_replace({expr}, '(?i)\\b({lex})\\b', '{TOX_TOKEN}', 'g')"
    return f"""
WITH d AS ({_PII_DOCS_SQL})
SELECT doc_id, {expr} AS scrubbed,
       regexp_matches(text, '{rx.SCRUB_EMAIL}') AS has_email,
       regexp_matches(text, '{rx.SCRUB_PHONE}') AS has_phone,
       regexp_matches(text, '{rx.SCRUB_SSN}') AS has_ssn,
       regexp_matches(text, '{rx.SCRUB_IPV4}') AS has_ip
FROM d
"""


# === quality filter ======================================================

# Pinned oracle for the pandas-UDF pipeline: the input is the seeded
# deterministic synthetic corpus (300 convs, seed 42 — independent of
# sf_dir), so the per-reason drop counts are constants of the engine
# code itself.  tests/test_pipeline.py::test_transcripts_pipeline_pinned
# recomputes them, so any scoring change trips that test before a stale
# pin ships.
TRANSCRIPTS_PIPELINE_PINNED: list[tuple[str | None, int]] = [
    ("boilerplate", 200),
    ("high_perplexity", 736),
    ("high_repetition", 418),
    ("high_symbol_ratio", 187),
    ("lang_mismatch", 746),
    ("null_text", 98),
    ("too_few_words", 97),
    ("too_long", 61),
    ("too_short", 205),
    (None, 3584),  # kept rows: explode_outer emits NULL for empty reason arrays
]


def q_transcripts_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full north-rule stack (langid + perplexity + heuristics + scrub)
    over deterministic synthetic transcripts; per-reason drop counts.
    The broadcast-model pandas UDFs aren't SQL-expressible, but the
    seeded input makes the output a constant — checked against the
    pinned oracle (see TRANSCRIPTS_PIPELINE_PINNED)."""
    _prep(spark)
    from dp_data_quality_spark.pipeline import score_turns
    from dp_data_quality_spark.synth import strip_truth, transcripts

    df = strip_truth(transcripts(spark, n_convs=300, seed=42))
    scored = score_turns(df, spark, FilterConfig())
    return (
        scored.select(F.explode_outer("drop_reasons").alias("reason"))
        .groupBy("reason")
        .count()
    )


def _sql_transcripts_pipeline() -> str:
    rows = ", ".join(
        ("(CAST(NULL AS VARCHAR), " if reason is None else f"('{reason}', ")
        + f"CAST({n} AS BIGINT))"
        for reason, n in TRANSCRIPTS_PIPELINE_PINNED
    )
    return f'SELECT * FROM (VALUES {rows}) t(reason, "count")'


# === registry =============================================================

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "contract_golden_vectors": q_contract_golden_vectors,
        "quality_report_documents": q_quality_report_documents,
        "scrub_pii": q_scrub_pii,
        "transcripts_pipeline": q_transcripts_pipeline,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "contract_golden_vectors": SQL_CONTRACT_GOLDEN_VECTORS,
        "quality_report_documents": _sql_quality_report_documents(),
        "scrub_pii": _sql_scrub_pii(),
        "transcripts_pipeline": _sql_transcripts_pipeline(),
    }
