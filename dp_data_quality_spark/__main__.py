"""CLI entry point — the reference's ``python run.py <data> <meta>
<account> <bucket>`` (run.py:29-38) re-expressed for spark-submit:

    spark-submit --py-files dp_data_quality_spark.zip \\
        -m dp_data_quality_spark filter \\
        --input  <parquet/iceberg path> \\
        --output <dir>  [--filter-config filter.json] [--n-buckets 256] \\
        [--no-resume] [--run-id r1]

    python -m dp_data_quality_spark report \\
        --input <path> --rules-config rules.json --table-name t \\
        --output <dir> [--key-cols conv_id,turn_idx]

Locally, ``python -m dp_data_quality_spark ...`` builds its own
``local[N]`` session; under spark-submit the cluster supplies master.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _filter_cmd(args: argparse.Namespace) -> int:
    from .config import FilterConfig
    from .pipeline import run_pipeline
    from .session import get_spark

    spark = get_spark("quality-filter")
    cfg = FilterConfig()
    if args.filter_config:
        with open(args.filter_config) as fh:
            cfg = FilterConfig(**json.load(fh))
    df = spark.read.parquet(args.input)
    start = time.time()
    res = run_pipeline(
        spark, df, args.output, cfg=cfg, n_buckets=args.n_buckets,
        run_id=args.run_id, resume=not args.no_resume,
    )
    elapsed = time.time() - start
    print(json.dumps({
        "kept_path": res.kept_path,
        "metrics_path": res.metrics_path,
        "buckets_processed": res.buckets_processed,
        "buckets_skipped": res.buckets_skipped,
        "wall_sec": round(elapsed, 2),
    }))
    return 0


def _report_cmd(args: argparse.Namespace) -> int:
    from .config import RulesConfig
    from .plans.report import build_quality_report
    from .session import get_spark, write_text

    spark = get_spark("quality-report")
    if args.rules_config.lower().endswith(".csv"):
        config = RulesConfig.from_reference_csv(args.rules_config)
    elif args.rules_config.lower().endswith(".xlsx"):
        config = RulesConfig.from_reference_xlsx(args.rules_config)
    else:
        config = RulesConfig.from_json(args.rules_config)
    df = spark.read.parquet(args.input)
    key_cols = args.key_cols.split(",") if args.key_cols else None
    report = build_quality_report(df, config, args.table_name, key_cols=key_cols)
    if args.format == "csv":
        # reference parity: the report sink is a CSV (quality_report.py:209-215)
        report.write.mode("overwrite").option("header", True).csv(args.output)
        n = spark.read.option("header", True).csv(args.output).count()
    else:
        report.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    marker = None
    if n == 0:
        # reference parity: a clean table produces a human-readable
        # "no issues" text artifact instead of a report
        # (quality_report.py:220-227 writes the same message to S3)
        import datetime

        now = datetime.date.today().isoformat()
        marker = write_text(
            spark, f"{args.output.rstrip('/')}/_NO_ISSUES.txt",
            f"As of {now}, {args.table_name} does not have any data "
            "quality issues.")
    print(json.dumps({"report_path": args.output, "report_rows": n,
                      "no_issues_marker": marker}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="dp_data_quality_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    f = sub.add_parser("filter", help="run the transcript quality-filter pipeline")
    f.add_argument("--input", required=True)
    f.add_argument("--output", required=True)
    f.add_argument("--filter-config", help="JSON of FilterConfig overrides")
    f.add_argument("--n-buckets", type=int, default=256)
    f.add_argument("--run-id", default="cli-run")
    f.add_argument("--no-resume", action="store_true")
    f.set_defaults(fn=_filter_cmd)

    r = sub.add_parser("report", help="run the 17-rule quality report")
    r.add_argument("--input", required=True)
    r.add_argument("--output", required=True)
    r.add_argument("--rules-config", required=True)
    r.add_argument("--table-name", required=True)
    r.add_argument("--key-cols", help="comma-separated natural key columns")
    r.add_argument("--format", choices=["parquet", "csv"], default="parquet")
    r.set_defaults(fn=_report_cmd)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
