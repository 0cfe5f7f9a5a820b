"""Hermetic pytest fixtures — no network, no S3 (unlike the reference's
tests/conftest.py:19-41 which require a live bucket)."""

from __future__ import annotations

import re
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import SparkSession

from dp_data_quality_spark.session import WORKER_DAEMON_MODULE


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    spark = (
        SparkSession.builder.appName("dp_data_quality_spark_tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")  # contract parity (non-ANSI casts)
        .config("spark.ui.enabled", "false")
        # the Python workers get_spark gives a local session
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


def in_job_group(spark, group, fn):
    """Run ``fn()`` under job group ``group``; return its result and the
    ids of the Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # setJobGroup also set the description, which executed_plans
        # matches on: later queries must not carry it
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def executed_plans(spark, group):
    """The physical plans of the SQL executions run under job group
    ``group``, writes included (``DataFrame.explain`` cannot show a
    write).  Each plan is its node list in tree order, as
    ``(name, arguments)`` pairs; an adaptive plan gives its final tree."""
    jss = spark._jsparkSession
    jss.sparkContext().listenerBus().waitUntilEmpty()
    execs = jss.sharedState().statusStore().executionsList()
    plans = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.description() != group:
            continue
        # the FORMATTED explain: a node tree, then one block per node
        tree, details = e.physicalPlanDescription().split("\n\n\n", 1)
        tree = tree.split("== Initial Plan ==")[0]
        blocks = {}
        for block in details.split("\n\n"):
            m = re.match(r"\s*\((\d+)\)", block)
            if m:
                args = re.search(r"^Arguments: (.*)$", block, re.M)
                blocks[m.group(1)] = args.group(1) if args else ""
        plans.append([
            (name, blocks.get(node_id, ""))
            for name, node_id in re.findall(r"([A-Z]\w*)[^(\n]*\((\d+)\)", tree)
        ])
    return plans


def part_files(root):
    """``{directory relative to root: number of part files in it}`` for
    every directory under ``root`` that holds part files."""
    root = Path(root)
    return dict(Counter(str(f.parent.relative_to(root)) for f in root.rglob("part-*")))
