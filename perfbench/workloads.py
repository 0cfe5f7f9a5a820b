"""The benchmark's workloads.  Each one times calls into the package's
public functions from outside; none changes module code.

A workload is run as: ``prepare`` (stage the seeded input, untimed),
``warmup`` (units of work until the warm-up rule holds), ``measure``
(units of work until ``--seconds`` of measured time), then ``check``.
One unit is one whole job on the bulk workloads and one micro-batch on
``stream_microbatch``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import inputs
from .tracer import Tracer

if TYPE_CHECKING:
    from .checks import Check

NPROC = len(os.sched_getaffinity(0))
# Two buckets per core.  Every pandas-UDF task pays a fixed start-up cost,
# so at 64 buckets on a few cores that cost alone fills most of a job and a
# measured phase holds only one or two jobs.
N_BUCKETS = 2 * NPROC
KEYS = ["conv_id", "turn_idx"]


def bytes_under(path: Path) -> int:
    """Bytes of the data files under ``path`` (no checksums or markers)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def files_under(path: Path) -> int:
    return sum(
        1 for _root, _dirs, files in os.walk(path)
        for f in files if not f.startswith((".", "_"))
    )


@dataclass
class Ctx:
    spark: SparkSession
    tracer: Tracer
    seed: int
    run_dir: Path
    cache_dir: Path


@dataclass
class Unit:
    seconds: float
    turns: int


@dataclass
class Workload:
    ctx: Ctx
    warm_tol: float = 0.15       # two consecutive units this close: warm
    warm_min: int = 2
    warm_max: int = 3
    units: list[Unit] = field(default_factory=list)
    warm_times: list[float] = field(default_factory=list)
    failed: int = 0

    def prepare(self) -> None:
        raise NotImplementedError

    def unit(self, k: int, out: Path) -> int:
        """Run unit ``k`` writing under ``out``; return the turns it fed."""
        raise NotImplementedError

    def bulk_input(self) -> DataFrame:
        """The whole input as one transcript table (for probes and checks)."""
        raise NotImplementedError

    def output_bytes(self) -> int:
        raise NotImplementedError

    def check(self) -> Check:
        raise NotImplementedError

    def _timed(self, k: int, out: Path) -> Unit | None:
        t0 = time.perf_counter()
        try:
            turns = self.unit(k, out)
        except Exception:  # a failed unit is counted, the run goes on
            import traceback

            traceback.print_exc()
            self.failed += 1
            return None
        return Unit(time.perf_counter() - t0, turns)

    def warmup(self) -> tuple[float, int]:
        """Run units until two in a row agree within ``warm_tol`` (at least
        ``warm_min``, at most ``warm_max``); return (seconds, units)."""
        times = self.warm_times
        out = self.ctx.run_dir / "warmup"
        t0 = time.perf_counter()
        with self.ctx.tracer.span("bench.warmup"):
            while len(times) < self.warm_max:
                u = self._timed(len(times), out)
                times.append(u.seconds if u else float("inf"))
                self.after_unit(out)
                if len(times) >= self.warm_min and abs(times[-1] - times[-2]) <= self.warm_tol * times[-1]:
                    break
        shutil.rmtree(out, ignore_errors=True)
        return time.perf_counter() - t0, len(times)

    def measure(self, seconds: float) -> None:
        """Run units until their summed time reaches ``seconds``."""
        out = self.ctx.run_dir / "measure"
        k = 0
        with self.ctx.tracer.span("bench.measure"):
            while sum(u.seconds for u in self.units) < seconds:
                u = self._timed(k, out)
                if u is None and self.failed > 3:
                    break
                if u is not None:
                    self.units.append(u)
                self.after_unit(out)
                k += 1

    def after_unit(self, out: Path) -> None:
        """Untimed housekeeping between units: flush written pages so one
        unit's writeback does not land in the next unit's time."""
        os.sync()

    # --- end-to-end figures ----------------------------------------------
    def turns_per_s(self) -> float:
        return self.units[0].turns / statistics.median(u.seconds for u in self.units)

    def latencies(self) -> list[float]:
        return [u.seconds for u in self.units]


class FilterWorkload(Workload):
    """``pipeline.run_pipeline(resume=False)`` over a staged input."""

    def __init__(self, ctx: Ctx, kind: str) -> None:
        super().__init__(ctx)
        self.kind = kind

    def prepare(self) -> None:
        self.staged = inputs.stage(self.ctx.spark, self.kind, self.ctx.seed, self.ctx.cache_dir)
        self.df = self.ctx.spark.read.parquet(str(self.staged.path))
        self.last_out: Path | None = None

    def bulk_input(self) -> DataFrame:
        return self.df

    def unit(self, k: int, out: Path) -> int:
        from dp_data_quality_spark.pipeline import run_pipeline

        dest = out / f"rep{k}"
        with self.ctx.tracer.span("pipeline.run_pipeline"):
            run_pipeline(self.ctx.spark, self.df, str(dest), n_buckets=N_BUCKETS,
                         resume=False, run_id=f"rep{k}")
        self.last_out = dest
        return self.staged.turns

    def after_unit(self, out: Path) -> None:
        # keep only the newest output: it is the one checked and sized
        for p in out.glob("rep*"):
            if p != self.last_out:
                shutil.rmtree(p, ignore_errors=True)
        super().after_unit(out)

    def output_bytes(self) -> int:
        return bytes_under(self.last_out)

    def check(self) -> Check:
        from .checks import check_filter

        return check_filter(self.ctx.spark, self.df, str(self.last_out / "scored"), self.ctx.seed)


# 6-column contract over the transcript table (conv_id and turn_idx are
# the key, so the row rules run over the other four).
REPORT_TEXT_LEN = 2000


def report_config():
    from dp_data_quality_spark.config import ColumnSpec, RulesConfig

    return RulesConfig(columns=[
        ColumnSpec("conv_id", "varchar", length_total=13),
        ColumnSpec("turn_idx", "integer"),
        ColumnSpec("role", "varchar", length_total=9),
        ColumnSpec("text", "string", length_total=REPORT_TEXT_LEN),
        ColumnSpec("tool", "varchar", length_total=10),
        ColumnSpec("ts", "timestamp"),
    ])


def write_report(ctx: Ctx, df: DataFrame, dest: Path, **flags) -> None:
    from dp_data_quality_spark.plans.report import build_quality_report

    with ctx.tracer.span("report.build_quality_report"):
        report = build_quality_report(df, report_config(), "transcripts", key_cols=KEYS, **flags)
    with ctx.tracer.span("report.write"):
        report.write.mode("overwrite").parquet(str(dest))


class ReportWorkload(FilterWorkload):
    """``plans.report.build_quality_report`` over the filter_mixed input,
    written to parquet as the CLI does."""

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx, "mixed")

    def unit(self, k: int, out: Path) -> int:
        dest = out / f"rep{k}"
        write_report(self.ctx, self.df, dest)
        self.last_out = dest
        return self.staged.turns

    def check(self) -> Check:
        from .checks import check_report

        content = [c for c in inputs.TRANSCRIPT_SCHEMA.names if c not in KEYS]
        return check_report(self.ctx.spark, str(self.last_out), self.staged.path,
                            content, REPORT_TEXT_LEN)


class StreamWorkload(Workload):
    """Closed loop, one client: each micro-batch goes through
    ``score_stream`` and then ``filtered_writer(...)(batch, id)``, called
    directly with no trigger; the next batch starts when it returns."""

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx, warm_tol=0.15, warm_min=6, warm_max=12)
        self.batch_turns: dict[str, int] = {}

    def prepare(self) -> None:
        spark = self.ctx.spark
        self.staged = inputs.stage(spark, "stream", self.ctx.seed, self.ctx.cache_dir)
        counts = spark.read.parquet(str(self.staged.path)).groupBy("batch").count().collect()
        self.turns_in = {r["batch"]: r["count"] for r in counts}
        self.next_id = 0

    def bulk_input(self) -> DataFrame:
        return self.ctx.spark.read.parquet(str(self.staged.path)).drop("batch")

    def batch(self, k: int) -> DataFrame:
        return self.ctx.spark.read.schema(inputs.TRANSCRIPT_SCHEMA).parquet(self.staged.batch_path(k))

    def unit(self, k: int, out: Path) -> int:
        from dp_data_quality_spark.streaming.stream_filter import filtered_writer, score_stream

        batch_id = self.next_id  # ids keep rising across warm-up and measurement
        self.next_id += 1
        with self.ctx.tracer.span("stream.score_stream"):
            scored = score_stream(self.batch(batch_id), self.ctx.spark, n_buckets=N_BUCKETS)
        with self.ctx.tracer.span("stream.filtered_writer"):
            filtered_writer(str(out))(scored, batch_id)
        turns = self.turns_in.get(batch_id % self.staged.batches, 0)
        if out.name == "measure":
            self.batch_turns[f"stream-{batch_id}"] = turns
        return turns

    def turns_per_s(self) -> float:
        return sum(u.turns for u in self.units) / sum(u.seconds for u in self.units)

    def output_bytes(self) -> int:
        """Bytes the measured batches committed, scaled to one pass over the
        whole staged input, so the figure does not depend on how many
        batches fit in the run."""
        fed = sum(u.turns for u in self.units)
        return bytes_under(self.ctx.run_dir / "measure") * self.staged.turns // fed

    def check(self) -> Check:
        from .checks import check_stream

        fed = {int(rid.rsplit("-", 1)[1]) % self.staged.batches for rid in self.batch_turns}
        fed_input = (
            self.ctx.spark.read.parquet(str(self.staged.path))
            .filter(F.col("batch").isin(sorted(fed))).drop("batch")
        )
        return check_stream(self.ctx.spark, str(self.ctx.run_dir / "measure" / "scored"),
                            fed_input, self.batch_turns, self.ctx.seed)


WORKLOADS = {
    "filter_mixed": lambda ctx: FilterWorkload(ctx, "mixed"),
    "filter_pii_dense": lambda ctx: FilterWorkload(ctx, "pii_dense"),
    "report_contract": ReportWorkload,
    "stream_microbatch": StreamWorkload,
}
