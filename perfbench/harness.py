"""Orchestration of one benchmark run: environment, set-up, workload,
checks, probes and metric assembly.  ``perfbench/run.py`` is the CLI."""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUP_CYCLES = 3
DRIVER_MEMORY = "2g"


def prepare_environment(run_id: str, nproc: int) -> dict[str, str]:
    """Point every writer at ``WORK`` and let the Python workers import the
    package; return the Spark conf the benchmark adds to the defaults."""
    tmp = WORK / "tmp" / run_id
    tmp.mkdir(parents=True, exist_ok=True)
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pythonpath if pythonpath else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    # -XX:-UsePerfData: the JVMs would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(WORK / "spark-local" / run_id),
        # a fixed-size heap: the peak RSS then tracks what the job touches,
        # not when G1 chose to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def set_up(tracer, conf: dict[str, str]):
    """Build the session ``SETUP_CYCLES`` times.  One cycle is
    ``session.get_spark``, the import-time training of the langid and
    perplexity tables, and a first pandas-UDF job that boots the Python
    workers.  The first cycle also launches the JVM."""
    import importlib

    from pyspark.sql import functions as F

    from dp_data_quality_spark.session import get_spark

    from .workloads import NPROC

    cycles: list[tuple[float, float, float]] = []
    spark = None
    for cycle in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        with tracer.span("functions.import"):
            if cycle == 0:
                import dp_data_quality_spark.pipeline  # noqa: F401  (trains both tables)
            else:
                from dp_data_quality_spark.functions import langid, perplexity

                importlib.reload(langid)
                importlib.reload(perplexity)
        t2 = time.perf_counter()
        with tracer.span("functions.worker_boot"):
            from dp_data_quality_spark.pipeline import score_turns

            texts = spark.range(0, 64 * NPROC, 1, NPROC).select(
                F.concat(F.lit("boot text number "), F.col("id").cast("string")).alias("text"))
            score_turns(texts, spark).write.format("noop").mode("overwrite").save()
        cycles.append((t1 - t0, t2 - t1, time.perf_counter() - t2))
    return spark, cycles


def q80(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=5, method="inclusive")[3] if len(xs) > 1 else xs[0]


def shut_down(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args: argparse.Namespace) -> dict:
    from pyspark import SparkContext

    from .procmon import PeakRss
    from .tracer import Tracer
    from .workloads import NPROC, WORKLOADS, Ctx

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    conf = prepare_environment(run_id, NPROC)
    tracer = Tracer(run_id, bool(args.trace))
    run_dir = WORK / "runs" / run_id
    spark = None
    try:
        with tracer.span("run"):
            spark, cycles = set_up(tracer, conf)
            ctx = Ctx(spark, tracer, args.seed, run_dir, WORK / "inputs")
            wl = WORKLOADS[args.workload](ctx)
            with tracer.span("bench.stage_input"):
                wl.prepare()
            warm_s, warm_n = wl.warmup()
            with PeakRss(SparkContext._gateway.proc.pid) as rss:
                wl.measure(args.seconds)
            with tracer.span("bench.checks"):
                check = wl.check()
            probes = {}
            if args.trace:
                from .probes import run_probes

                with tracer.span("bench.probes"):
                    probes = run_probes(ctx, wl)
        output_mb = wl.output_bytes() / 1e6
    finally:
        shut_down(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(WORK / "spark-local" / run_id, ignore_errors=True)
        shutil.rmtree(WORK / "tmp" / run_id, ignore_errors=True)
        if tracer.enabled:
            tracer.write(WORK / "traces" / f"{run_id}.jsonl")

    lat = wl.latencies()
    setup_s = statistics.median(sum(c) for c in cycles) + warm_s
    e2e = {
        "setup_s": setup_s,
        "turns_per_s": wl.turns_per_s(),
        "batch_latency_p50_s": statistics.median(lat),
        "batch_latency_p80_s": q80(lat),
        "peak_rss_mb": rss.peak_bytes / 1e6,
        "output_mb": output_mb,
        "keep_f1": check.keep_f1,
    }
    attempted = len(wl.units) + wl.failed + check.attempted
    failed = wl.failed + check.failed
    info = {
        "samples": len(lat),
        "failed_frac": failed / attempted,
        "unit_s": [round(t, 3) for t in lat],
        "warmup_unit_s": [round(t, 3) for t in wl.warm_times],
        "setup_cycle_s": [[round(t, 3) for t in c] for c in cycles],
        "check": check.detail.strip(),
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if not args.trace:
        return {**result, "metrics": e2e, "info": info}

    layers = tracer.self_time_by_layer()
    root = tracer.spans[0]
    wall = root.end - root.start
    per = {
        "session.start_s": statistics.median(c[0] for c in cycles),
        "session.cold_start_s": sum(cycles[0]),
        "functions.import_s": statistics.median(c[1] for c in cycles),
        "functions.worker_boot_s": statistics.median(c[2] for c in cycles),
        "bench.warmup_s": warm_s,
        "bench.warmup_reps": warm_n,
        **probes,
        **{f"selftime.{layer}_s": layers.get(layer, 0.0)
           for layer in ("session", "functions", "sources", "pipeline", "scrub",
                         "report", "stream", "bench")},
        "trace.wall_s": wall,
        "trace.unattributed_s": layers.get("root", 0.0),
        "trace.overhead_frac": len(tracer.spans) * tracer.span_cost_s() / wall,
        "trace.spans": len(tracer.spans),
    }
    info["traced_end_to_end"] = e2e
    return {**result, "metrics": per, "info": info}
