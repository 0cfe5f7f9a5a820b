"""Plan-shape regression tests: the physical plans ARE part of the
contract at 100 TB — a silent optimizer or refactor regression that turns
a partitioned window into a single-task global one would pass every value
test and still be a production incident (docs/PLANS.md shows the dumps)."""

from __future__ import annotations


def test_report_id_window_is_partitioned(spark):
    # DQ_REPORT_ID must come from a PARTITIONED row_number (group offset
    # + per-group rank) — a global unpartitioned window over report rows
    # is the reference's single-task bug (SURVEY §4.2).  The only
    # unpartitioned window allowed is the cumulative offset over the
    # per-group COUNTS (≤ rules × columns rows), which carries sum(),
    # never row_number().
    import re

    from dp_data_quality_spark.config import ColumnSpec, RulesConfig
    from dp_data_quality_spark.plans.report import build_quality_report

    df = spark.createDataFrame(
        [("k1", None), ("k2", "x")], ["k", "num_col"]
    )
    cfg = RulesConfig(columns=[ColumnSpec("k", "string"),
                               ColumnSpec("num_col", "integer")])
    report = build_quality_report(df, cfg, "t", key_cols=["k"])
    plan = report._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "row_number()" in line:
            # plan prints `Window [exprs], [partition], [order]` — every
            # row_number window (the report-id rank AND the rule-17
            # digest window) must have a NON-EMPTY partition spec
            m = re.search(r"\], \[(.*?)\], \[", line)
            assert m and m.group(1).strip(), line
    assert "row_number()" in plan  # the surrogate is present at all
    # and the ids are still the dense 1..n sequence
    ids = sorted(r.DQ_REPORT_ID for r in report.collect())
    assert ids == list(range(1, len(ids) + 1))
