"""The reference's 17-rule validation contract as vectorized Column factories.

Each rule is a pure ``Column -> Column<boolean>`` factory where **True
means the row FAILS the rule** — the same per-row fail attribution the
reference computes with per-column ``collect_list`` round-trips
(/root/reference/dp_data_quality/validation_rulebook.py), but evaluated
in ONE distributed pass with no driver involvement.  Rule IDs, category
and message strings match quality_report.py:68-86 exactly.

Contract quirks preserved deliberately (each has a golden test):
- '1.0' PASSES the integer/short/long checks (validation_rulebook.py:289
  allows a trailing '.0'; Spark's string→int cast truncates).
- float/double bounds are compared post-cast against the reference's
  Python literals, so float32 rounding makes boundary values fail
  exactly as the reference's own tests expect.
- the double check's negative branch is unsatisfiable
  (validation_rulebook.py:416-420 inverts the comparison) → every
  strictly negative double fails; we reproduce the same expression.
- empty string is NOT null (validation_rulebook.py:144).
- IPv6/timestamp patterns are unanchored → substring match.
- epoch: length ≤ 10 ⇒ seconds, else milliseconds
  (validation_rulebook.py:614-624); we fuse the reference's two
  filter+union branches into one when/otherwise pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import regexes as rx

# ---------------------------------------------------------------------------
# Rule registry: ID -> (name, category, message)
# (quality_report.py:68-86)
# ---------------------------------------------------------------------------
RULES: dict[int, tuple[str, str, str]] = {
    1: ("column_not_in_metadata", "Generic Validation", "Column not present in Metadata"),
    2: ("column_not_in_data", "Generic Validation", "Column not present in Data"),
    3: ("null_value", "Generic Validation", "Null value"),
    4: ("not_numeric", "Datatype Specific", "Expected numeric datatype"),
    5: ("not_integer", "Datatype Specific", "Expected integer datatype"),
    6: ("not_short", "Datatype Specific", "Expected short datatype"),
    7: ("not_long", "Datatype Specific", "Expected long datatype"),
    8: ("not_float", "Datatype Specific", "Expected float datatype"),
    9: ("not_double", "Datatype Specific", "Expected double datatype"),
    10: ("string_too_long", "Datatype Specific", "Exceeded length limitation"),
    11: ("varchar_too_long", "Datatype Specific", "Exceeded length limitation"),
    12: ("not_ipv4", "Datatype Specific", "Expected IPv4 datatype"),
    13: ("not_ipv6", "Datatype Specific", "Expected IPv6 datatype"),
    14: ("not_epoch", "Datatype Specific", "Expected epoch datatype"),
    15: ("not_timestamp", "Datatype Specific", "Expected timestamp datatype"),
    16: ("sensitive_information", "Sensitive Validation", "Encountered sensitive information"),
    17: ("duplicate_row", "Generic Validation", "Duplicate row"),
}

# Integral bounds (validation_rulebook.py:281-282,321-322,360-361)
INT_BOUNDS = {"integer": (-2147483648, 2147483647),
              "short": (-32768, 32767),
              "long": (-9223372036854775808, 9223372036854775807)}
_CAST_TYPE = {"integer": T.IntegerType(), "short": T.ShortType(), "long": T.LongType()}

# Float/double bounds (validation_rulebook.py:399-402,443-446)
FLOAT_BOUNDS = (1.175494351e-38, 3.402823466e38, -1.175494351e-38, -3.402823466e38)
DOUBLE_BOUNDS = (2.225e-307, 1.79769e308, -1.79769e308, -2.225e-307)


def _nn(c: Column, fail_if: Column) -> Column:
    """Fail attribution among non-null cells only (reference drops nulls
    first: validation_rulebook.py:166,247,284,...)."""
    return c.isNotNull() & F.coalesce(fail_if, F.lit(True))


# ---------------------------------------------------------------------------
# Rule 3 — null value (validation_rulebook.py:129-147)
# ---------------------------------------------------------------------------
def null_fail(c: Column) -> Column:
    return c.isNull()


# ---------------------------------------------------------------------------
# Rule 4 — numeric (validation_rulebook.py:232-262)
# ---------------------------------------------------------------------------
def numeric_fail(c: Column) -> Column:
    ok = (
        c.rlike(rx.NUMERIC_CHARS_JAVA)
        & (c.rlike(rx.DECIMAL_SHAPE_JAVA) | c.rlike(rx.SCI_SHAPE_JAVA))
    )
    return _nn(c, ~ok)


# ---------------------------------------------------------------------------
# Rules 5/6/7 — integer / short / long (validation_rulebook.py:264-380)
# ---------------------------------------------------------------------------
def _integral_fail(c: Column, kind: str) -> Column:
    lower, upper = INT_BOUNDS[kind]
    shape = (
        c.rlike(rx.NUMERIC_CHARS_JAVA)
        & (c.rlike(rx.INTEGRAL_SHAPE_JAVA) | c.rlike(rx.SCI_SHAPE_JAVA))
    )
    casted = c.cast(_CAST_TYPE[kind])
    in_range = (casted <= F.lit(upper)) & (casted >= F.lit(lower))
    return _nn(c, ~(shape & F.coalesce(in_range, F.lit(False))))


def integer_fail(c: Column) -> Column:
    return _integral_fail(c, "integer")


def short_fail(c: Column) -> Column:
    return _integral_fail(c, "short")


def long_fail(c: Column) -> Column:
    return _integral_fail(c, "long")


# ---------------------------------------------------------------------------
# Rules 8/9 — float / double (validation_rulebook.py:382-467)
# ---------------------------------------------------------------------------
def _fractional_fail(c: Column, kind: str) -> Column:
    if kind == "float":
        lo_pos, up_pos, lo_neg, up_neg = FLOAT_BOUNDS
        casted = c.cast(T.FloatType())
    else:
        lo_pos, up_pos, lo_neg, up_neg = DOUBLE_BOUNDS
        casted = c.cast(T.DoubleType())
    shape = (
        c.rlike(rx.NUMERIC_CHARS_JAVA)
        & (c.rlike(rx.DECIMAL_SHAPE_JAVA) | c.rlike(rx.SCI_SHAPE_JAVA))
    )
    # Literal transliteration of the reference's where-clause, including
    # the double check's unsatisfiable negative branch (a contract quirk).
    in_range = (
        ((casted <= F.lit(up_pos)) & (casted >= F.lit(lo_pos)))
        | ((casted >= F.lit(up_neg)) & (casted <= F.lit(lo_neg)))
        | (casted == F.lit(0.0))
    )
    return _nn(c, ~(shape & F.coalesce(in_range, F.lit(False))))


def float_fail(c: Column) -> Column:
    return _fractional_fail(c, "float")


def double_fail(c: Column) -> Column:
    return _fractional_fail(c, "double")


# ---------------------------------------------------------------------------
# Rules 10/11 — string / varchar length (validation_rulebook.py:469-527)
# ---------------------------------------------------------------------------
def length_fail(c: Column, length_total: int | None) -> Column:
    """Skipped entirely (never fails) when no limit is configured —
    reference quirk at validation_rulebook.py:489,494-495."""
    if length_total is None:
        return F.lit(False)
    return _nn(c, F.length(F.trim(c.cast(T.StringType()))) > F.lit(int(length_total)))


# ---------------------------------------------------------------------------
# Rules 12/13 — IPv4 / IPv6 (validation_rulebook.py:529-593)
# ---------------------------------------------------------------------------
def ipv4_fail(c: Column) -> Column:
    return _nn(c, ~c.rlike(rx.IPV4_JAVA))


def ipv6_fail(c: Column) -> Column:
    return _nn(c, ~c.rlike(rx.IPV6_JAVA))


# ---------------------------------------------------------------------------
# Rule 14 — epoch (validation_rulebook.py:595-630); two scan+union branches
# fused into a single when/otherwise pass
# ---------------------------------------------------------------------------
def epoch_fail(c: Column) -> Column:
    parsed = F.when(
        F.length(c.cast(T.StringType())) <= 10, F.from_unixtime(c)
    ).otherwise(F.from_unixtime(c / 1000))
    return _nn(c, parsed.isNull())


# ---------------------------------------------------------------------------
# Rule 15 — timestamp (validation_rulebook.py:632-658); unanchored patterns
# ---------------------------------------------------------------------------
def timestamp_fail(c: Column) -> Column:
    ok = c.rlike(rx.TIMESTAMP_YMD_JAVA) | c.rlike(rx.TIMESTAMP_DMY_JAVA)
    return _nn(c, ~ok)


# ---------------------------------------------------------------------------
# Rule 16 — sensitive information / PII (validation_rulebook.py:150-179)
# Full-cell anchored phone/email detection; fail == PII present.
# ---------------------------------------------------------------------------
def pii_fail(c: Column) -> Column:
    hit = c.rlike(rx.PHONE_FULL_JAVA) | c.rlike(rx.EMAIL_FULL_JAVA)
    return c.isNotNull() & hit


# ---------------------------------------------------------------------------
# Rule 17 — duplicate row (validation_rulebook.py:107-127)
# Reference: dropDuplicates keeps the first ROW_ID; non-first copies fail.
# Distributed equivalent: row_number over a content-partitioned window —
# no collect, no driver diff.
#
# The window partitions on a 32-byte content DIGEST, not the raw columns:
# partitioning by the columns themselves would shuffle every content
# byte (including full text payloads) just to group identical rows —
# at 100 TB that is the whole table through the wire.  Hashing first
# means only the digest is the shuffle key.  Null-safety: each column
# is md5'd separately (fixed 32-hex tokens) with a non-hex 'NULL'
# sentinel, so null vs '' vs field-boundary shifts can't collide, and
# nulls group together exactly like partitionBy(col) would.
# ---------------------------------------------------------------------------
def duplicate_fail(df: DataFrame, subset: list[str], order_col: str) -> Column:
    enc = [
        F.coalesce(F.md5(F.col(f"`{c}`").cast("string")), F.lit("NULL"))
        for c in subset
    ]
    digest = F.sha2(F.concat(*enc), 256)
    w = Window.partitionBy(digest).orderBy(F.col(order_col))
    return F.row_number().over(w) > 1


# ---------------------------------------------------------------------------
# Rules 1/2 — schema reconciliation (validation_rulebook.py:45-75)
# Schema-level, driver-side by nature (column lists are tiny).
# Case-insensitive, upper-cased both sides like the reference.
# ---------------------------------------------------------------------------
def columns_not_in_metadata(data_columns: list[str], meta_columns: list[str]) -> list[str]:
    meta_up = [c.upper() for c in meta_columns]
    return [c for c in (x.upper() for x in data_columns) if c not in meta_up]


def columns_not_in_data(data_columns: list[str], meta_columns: list[str]) -> list[str]:
    data_up = [c.upper() for c in data_columns]
    return [c for c in (x.upper() for x in meta_columns) if c not in data_up]


def normalize_column_names(df: DataFrame) -> DataFrame:
    """'-'→'_', strip '@' (validation_rulebook.py:33-43) in one projection."""
    return df.select(
        [F.col(f"`{c}`").alias(c.replace("-", "_").replace("@", "")) for c in df.columns]
    )


# ---------------------------------------------------------------------------
# Datatype dispatch (validation_rulebook.py:660-687)
# ---------------------------------------------------------------------------
def datatype_fail_expr(datatype: str, c: Column, length_total: int | None = None) -> Column | None:
    """Mirror of the reference dispatch table; unknown types → None (skipped,
    validation_rulebook.py:687)."""
    dispatch = {
        "integer": integer_fail,
        "float": float_fail,
        "double": double_fail,
        "long": long_fail,
        "short": short_fail,
        "numeric": numeric_fail,
        "ipv4": ipv4_fail,
        "ip": ipv4_fail,
        "ipv6": ipv6_fail,
        "epoch": epoch_fail,
        "timestamp": timestamp_fail,
    }
    if datatype in ("string", "varchar"):
        return length_fail(c, length_total)
    fn = dispatch.get(datatype)
    return fn(c) if fn is not None else None


DATATYPE_RULE_IDS = {
    "numeric": 4, "integer": 5, "short": 6, "long": 7, "float": 8,
    "double": 9, "string": 10, "varchar": 11, "ipv4": 12, "ip": 12,
    "ipv6": 13, "epoch": 14, "timestamp": 15,
}
