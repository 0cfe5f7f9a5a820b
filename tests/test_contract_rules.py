"""Golden-vector tests for the 17-rule contract — identical inputs and
expected fail sets to the reference's own unit tests
(/root/reference/tests/test_datatype_validation.py:18-161,
tests/test_generic_rulebook.py:66-75), but hermetic and evaluated as one
vectorized expression instead of per-column collects.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dp_data_quality_spark.rules import contract as C


def _fails(spark, values, fail_expr_factory, value_type=T.StringType()):
    """Run a fail expression over an indexed vector; return failing indexes."""
    schema = T.StructType([
        T.StructField("ROW_ID", T.IntegerType()),
        T.StructField("v", value_type),
    ])
    df = spark.createDataFrame(list(enumerate(values)), schema)
    out = df.select("ROW_ID", fail_expr_factory(F.col("v")).alias("fail"))
    return sorted(r.ROW_ID for r in out.collect() if r.fail)


# --- datatype golden vectors (test_datatype_validation.py) ---------------

def test_integer_golden(spark):
    # test_datatype_validation.py:18-30 — note '1.0' passes
    vec = ["-1", "2", "", "-2147483649", "2147483648", "2e8", "1.0"]
    assert _fails(spark, vec, C.integer_fail) == [2, 3, 4, 5]


def test_short_golden(spark):
    # test_datatype_validation.py:32-43
    vec = ["32768", "-32769", "1", "1.0", "2e8"]
    assert _fails(spark, vec, C.short_fail) == [0, 1, 4]


def test_long_golden(spark):
    # test_datatype_validation.py:45-55
    vec = ["9223372036854775809", "-9223372036854775809", "1", "1.0", "2e8"]
    assert _fails(spark, vec, C.long_fail) == [0, 1, 4]


def test_float_golden(spark):
    # test_datatype_validation.py:57-69 — float32 rounding at the bounds
    vec = ["1.175494352e-38", "3.402823467e38", "-1.175494351e-38",
           "1.0", "-3.402823466e38", "0.0"]
    assert _fails(spark, vec, C.float_fail) == [0, 1, 2, 4]


def test_double_golden(spark):
    # test_datatype_validation.py:71-81 — quirk: every strictly negative
    # double fails (unsatisfiable negative branch, validation_rulebook.py:416-420)
    vec = ["9223372036854775809", "-9223372036854775809", "1", "1.0", "2e8"]
    assert _fails(spark, vec, C.double_fail) == [1]


def test_numeric_golden(spark):
    vec = ["-1", "2.5", "", "abc", "2e8", "1.0.0", "+42"]
    assert _fails(spark, vec, C.numeric_fail) == [2, 3, 5]


def test_string_length_golden(spark):
    # test_datatype_validation.py:83-91 (limit high enough → no fails)
    vec = ["monkey", "stringy string"]
    assert _fails(spark, vec, lambda c: C.length_fail(c, 100)) == []


def test_varchar_length_golden(spark):
    # test_datatype_validation.py:93-102 (limit 5 → 'monkey','stringy string' fail)
    vec = ["monkey", "stringy string", "cat"]
    assert _fails(spark, vec, lambda c: C.length_fail(c, 5)) == [0, 1]


def test_length_skipped_without_limit(spark):
    # quirk: no configured limit → rule silently skipped (validation_rulebook.py:494-495)
    vec = ["x" * 1000]
    assert _fails(spark, vec, lambda c: C.length_fail(c, None)) == []


def test_ipv4_golden(spark):
    # test_datatype_validation.py:104-112
    vec = ["1 . 2 . 3 . 4", "01 . 102 . 103 . 104"]
    assert _fails(spark, vec, C.ipv4_fail) == [0, 1]
    ok = ["1.2.3.4", "255.255.255.255", "0.0.0.0", "192.168.1.1"]
    assert _fails(spark, ok, C.ipv4_fail) == []
    bad = ["256.1.1.1", "1.2.3", "1.2.3.4.5", "01.2.3.4"]
    assert _fails(spark, bad, C.ipv4_fail) == [0, 1, 2, 3]


def test_ipv6_golden(spark):
    # test_datatype_validation.py:114-131 (IBM vectors; unanchored regex)
    vec = [
        "2001 : db8: 3333 : 4444 : 5555 : 6666 : 7777 : 8888",
        "2001 : db8 : 3333 : 4444 : CCCC : DDDD : EEEE : FFFF",
        ": :",
        "2001: db8: :",
        ": : 1234 : 5678",
        "2001 : db8: : 1234 : 5678",
        "2001:0db8:0001:0000:0000:0ab9:C0A8:0102",
        "2001:db8:1::ab9:C0A8:102",
    ]
    assert _fails(spark, vec, C.ipv6_fail) == [0, 1, 2, 3, 4, 5]


def test_epoch_golden(spark):
    # test_datatype_validation.py:133-145 (int-typed column; secs + millis)
    vec = [0, 1675295204357, 1675295204631, 1675001470307, 1680195228, 1676408186]
    assert _fails(spark, vec, C.epoch_fail, value_type=T.LongType()) == []


def test_epoch_bad_strings(spark):
    vec = ["not-an-epoch", "1680195228", ""]
    assert _fails(spark, vec, C.epoch_fail) == [0, 2]


def test_timestamp_golden(spark):
    # test_datatype_validation.py:147-161 (ROW_ID 1-based there → 0-based here)
    vec = ["0", "1970-01-01 00:00:01.000000", "12:1:2000", "12:31:1999",
           "1985/09/25 17:45:30.005", "1680210134", "25/11/22 06:43:14"]
    assert _fails(spark, vec, C.timestamp_fail) == [0, 2, 3, 5]


# --- generic rules --------------------------------------------------------

def test_null_golden(spark):
    schema = T.StructType([
        T.StructField("ROW_ID", T.IntegerType()),
        T.StructField("v", T.StringType()),
    ])
    rows = [(i, None if i in (3, 10) else f"val{i}") for i in range(20)]
    df = spark.createDataFrame(rows, schema)
    out = df.select("ROW_ID", C.null_fail(F.col("v")).alias("fail"))
    assert sorted(r.ROW_ID for r in out.collect() if r.fail) == [3, 10]


def test_null_empty_string_is_not_null(spark):
    # quirk: '' is NOT null (validation_rulebook.py:144)
    assert _fails(spark, ["", "x", None], C.null_fail) == [2]


def test_pii_golden(spark):
    # full-cell anchored phone/email (validation_rulebook.py:169-175)
    vec = [
        "alice@example.com",          # email → hit
        "+1 303-555-1234",            # phone with country code → hit
        "(303) 555-1234",             # parens phone → hit
        "call me at 303-555-1234 ok", # not full-cell → NO hit
        "plain text",
        "303.555.1234",
        None,
    ]
    assert _fails(spark, vec, C.pii_fail) == [0, 1, 2, 5]


def test_duplicate_golden(spark):
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "b", "y"), (4, "a", "x")],
        ["ROW_ID", "c1", "c2"],
    )
    out = df.withColumn("fail", C.duplicate_fail(df, ["c1", "c2"], "ROW_ID"))
    assert sorted(r.ROW_ID for r in out.collect() if r.fail) == [2, 4]


def test_schema_rules():
    data_cols = ["A", "b", "extra"]
    meta_cols = ["a", "B", "missing"]
    assert C.columns_not_in_metadata(data_cols, meta_cols) == ["EXTRA"]
    assert C.columns_not_in_data(data_cols, meta_cols) == ["MISSING"]


def test_normalize_column_names(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["a-b", "@c", "d"])
    out = C.normalize_column_names(df)
    assert out.columns == ["a_b", "c", "d"]


def test_datatype_dispatch_unknown_type():
    assert C.datatype_fail_expr("geography", F.col("x")) is None


def test_duplicate_fail_hash_key_null_vs_empty(spark):
    from dp_data_quality_spark.rules import contract as C

    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", ""), (3, "a", None), (4, "ab", "c"), (5, "a", "bc")],
        "rid int, x string, y string",
    )
    out = df.select("rid", C.duplicate_fail(df, ["x", "y"], "rid").alias("dup"))
    got = {r.rid: r.dup for r in out.collect()}
    # null and '' are DIFFERENT contents; (3) is the only non-first copy;
    # ('ab','c') vs ('a','bc') must not collide across the field boundary
    assert got == {1: False, 2: False, 3: True, 4: False, 5: False}
