"""Benchmark of the transcript quality filter: one command, one process,
``local[nproc]``.

    python3 perfbench/run.py --workload filter_mixed --seed 1 --seconds 20 --trace 0

Workloads: filter_mixed, filter_pii_dense, report_contract,
stream_microbatch (see ``perfbench/README.md``).  A run sets the session
up three times, stages the seeded input (cached by workload, seed, size
and generator code), warms up, measures for ``--seconds`` of job time,
checks the outputs, and prints one line per metric followed by a JSON
object as the last line of standard output.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` records spans around every layer call,
runs the per-layer probes and reports the per-layer metrics.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root.  Exit status is 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOAD_NAMES = ("filter_mixed", "filter_pii_dense", "report_contract", "stream_microbatch")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "dp_data_quality_spark" / "__init__.py").is_file():
        print(f"perfbench: no dp_data_quality_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import metrics as M
    from perfbench.harness import run

    out = run(args)
    table = M.PER_LAYER if args.trace else M.END_TO_END
    metrics = {m.name: (out["metrics"][m.name], m.unit) for m in table}
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    for name, value in out["info"].items():
        print(f"{args.workload} {name} = {value}")
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
