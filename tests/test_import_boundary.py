"""The filter, report and stream paths do not import ``ops/``.

``dp_data_quality_spark/ops/`` is the earlier operator library; it is
being deleted module by module, which is only safe while nothing
outside it imports it.  This parses the source (no Spark, no import of
the package) and fails on any import of ``dp_data_quality_spark.ops``
from the package outside ``ops/``, from ``__spark_entry__.py`` or from
``perfbench/``.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "dp_data_quality_spark"
OPS = f"{PKG}.ops"


def ops_imports(source: str, module: str) -> list[str]:
    """The ``ops`` modules that ``source`` imports.  ``module`` is its
    dotted path (``pkg.__init__`` for a package), against which
    relative imports resolve."""
    package = module.split(".")[:-1]
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            targets = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        found += [t for t in targets if t == OPS or t.startswith(OPS + ".")]
    return found


def _sources() -> list[Path]:
    pkg = sorted(
        p for p in (ROOT / PKG).rglob("*.py")
        if (ROOT / PKG / "ops") not in p.parents
    )
    return pkg + [ROOT / "__spark_entry__.py"] + sorted((ROOT / "perfbench").glob("*.py"))


def test_detector_resolves_every_import_form():
    flagged = [
        ("from ..ops import dedup", f"{PKG}.plans.report"),
        ("from .ops.hashing import h32", f"{PKG}.pipeline"),
        ("from . import ops", f"{PKG}.__init__"),
        ("from .. import ops", f"{PKG}.streaming.stream_filter"),
        ("import dp_data_quality_spark.ops.textstats as TS", "perfbench.probes"),
    ]
    for source, module in flagged:
        assert ops_imports(source, module), source
    assert ops_imports("from ..functions import ngram", f"{PKG}.plans.report") == []
    assert ops_imports("from . import opsx", f"{PKG}.pipeline") == []


def test_no_module_outside_ops_imports_ops():
    sources = _sources()
    assert len(sources) > 20 and (ROOT / PKG / "pipeline.py") in sources
    offenders = {
        str(p.relative_to(ROOT)): hits
        for p in sources
        if (hits := ops_imports(p.read_text(encoding="utf-8"),
                                ".".join(p.relative_to(ROOT).with_suffix("").parts)))
    }
    assert offenders == {}
