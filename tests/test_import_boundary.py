"""The filter, report and stream paths do not import ``ops/``, and no
import of the package dangles.

``dp_data_quality_spark/ops/`` is the earlier operator library; it is
being deleted module by module, which is only safe while nothing
outside it imports it.  This parses the source (no Spark, no import of
the package) and fails on any import of ``dp_data_quality_spark.ops``
from the package outside ``ops/``, from ``__spark_entry__.py`` or from
``perfbench/``.  It also fails on any import of a package module that
does not exist, or of a name that module does not define, anywhere in
the package, ``__spark_entry__.py``, ``perfbench/`` or ``tests/``:
imports inside functions run only when a call reaches them, so a
deleted module would otherwise show only then.  Last, it fails on any
top-level function or class of the package whose name appears on no
other line of those files, so a deletion cannot leave an orphan behind.
And ``worker_daemon`` imports pyspark only after it has filtered the
worker path, in a package whose ``__init__`` imports nothing: ``python
-m`` would otherwise load pyspark from the archive it means to drop.
"""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "dp_data_quality_spark"
OPS = f"{PKG}.ops"


def imports(source: str, module: str) -> list[tuple[str, str | None]]:
    """Every import in ``source``, those inside functions included, as
    ``(module, None)`` for ``import module`` and ``(module, name)`` for
    ``from module import name``.  ``module`` is the dotted path of
    ``source`` (``pkg.__init__`` for a package), against which relative
    imports resolve."""
    package = module.split(".")[:-1]
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            found += [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            found += [(mod, a.name) for a in node.names]
    return found


def ops_imports(source: str, module: str) -> list[str]:
    """The ``ops`` modules that ``source`` imports."""
    targets = [t for mod, name in imports(source, module)
               for t in ([mod] if name is None else [mod, f"{mod}.{name}"])]
    return [t for t in targets if t == OPS or t.startswith(OPS + ".")]


def module_file(module: str) -> Path | None:
    """The source file of package module ``module``, if it exists."""
    base = ROOT.joinpath(*module.split("."))
    return next((p for p in (base.with_suffix(".py"), base / "__init__.py") if p.is_file()),
                None)


def defined_names(path: Path) -> set[str]:
    """The names a module binds at top level, under ``if``/``try`` too."""
    names: set[str] = set()
    todo = list(ast.parse(path.read_text(encoding="utf-8")).body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}
        elif isinstance(node, ast.If):
            todo += node.body + node.orelse
        elif isinstance(node, ast.Try):
            todo += node.body + node.orelse + node.finalbody
            todo += [s for h in node.handlers for s in h.body]
    return names


def dangling_imports(source: str, module: str) -> list[str]:
    """The imports of ``dp_data_quality_spark`` modules in ``source``
    that do not resolve: the module is missing, or ``from module import
    name`` names neither a submodule nor a top-level name of it."""
    bad = []
    for mod, name in imports(source, module):
        if mod != PKG and not mod.startswith(PKG + "."):
            continue
        path = module_file(mod)
        if path is None:
            bad.append(mod)
        elif name not in (None, "*") and module_file(f"{mod}.{name}") is None \
                and name not in defined_names(path):
            bad.append(f"{mod}.{name}")
    return bad


def _sources() -> list[Path]:
    pkg = sorted(
        p for p in (ROOT / PKG).rglob("*.py")
        if (ROOT / PKG / "ops") not in p.parents
    )
    return pkg + [ROOT / "__spark_entry__.py"] + sorted((ROOT / "perfbench").glob("*.py"))


def _all_sources() -> list[Path]:
    """The package, ``__spark_entry__.py``, ``perfbench/`` and ``tests/``."""
    return (sorted((ROOT / PKG).rglob("*.py")) + [ROOT / "__spark_entry__.py"]
            + sorted((ROOT / "perfbench").glob("*.py")) + sorted((ROOT / "tests").glob("*.py")))


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


def test_dangling_import_detector():
    flagged = [
        ("from .ops.similarity import cosine_topk", f"{PKG}.pipeline"),
        ("def f():\n    from .clustering import kmeans_fit", f"{PKG}.ops.graph"),
        ("from .ops import similarity", f"{PKG}.pipeline"),
        ("from dp_data_quality_spark.pipeline import no_such_name", "tests.test_pipeline"),
        ("import dp_data_quality_spark.no_such_module", "perfbench.probes"),
    ]
    for source, module in flagged:
        assert dangling_imports(source, module), source
    resolved = [
        ("from .functions import ngram", f"{PKG}.pipeline"),
        ("from . import synth", f"{PKG}.__init__"),
        ("def f():\n    from .perplexity import make_scorer_udf", f"{PKG}.functions.ngram"),
        ("from dp_data_quality_spark.pipeline import run_pipeline", "tests.test_pipeline"),
        ("from .conftest import no_such_name", "tests.test_pipeline"),
        ("import dp_data_quality_spark.functions.ngram as N", "perfbench.probes"),
    ]
    for source, module in resolved:
        assert dangling_imports(source, module) == [], source


def test_every_package_import_resolves():
    sources = _all_sources()
    assert (ROOT / "tests" / "test_pipeline.py") in sources
    offenders = {
        str(p.relative_to(ROOT)): bad
        for p in sources
        if (bad := dangling_imports(p.read_text(encoding="utf-8"),
                                    ".".join(p.relative_to(ROOT).with_suffix("").parts)))
    }
    assert offenders == {}


def unreferenced_defs(texts: dict[str, str], defining: list[str]) -> list[str]:
    """The top-level functions and classes of the files ``defining``
    (keys of ``texts``) whose name appears on no line of ``texts`` but
    the one that defines it, as ``file:name``."""
    lines_of = defaultdict(set)
    for path, text in texts.items():
        for n, line in enumerate(text.splitlines(), 1):
            for word in re.findall(r"\w+", line):
                lines_of[word].add((path, n))
    return [
        f"{path}:{node.name}"
        for path in defining
        for node in ast.parse(texts[path]).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not lines_of[node.name] - {(path, node.lineno)}
    ]


def test_unreferenced_def_detector():
    texts = {
        "a.py": "def used():\n    pass\n\n\n@decorated\ndef orphan():\n    orphan_x = 1\n",
        "b.py": "from a import used\nclass Lone:\n    def used(self):\n        pass\n",
        "t.py": "# orphanage, not orphan_x\n",
    }
    assert unreferenced_defs(texts, ["a.py", "b.py"]) == ["a.py:orphan", "b.py:Lone"]
    texts["t.py"] += "Lone()\n"
    assert unreferenced_defs(texts, ["a.py", "b.py"]) == ["a.py:orphan"]


def test_every_package_def_is_referenced():
    texts = {str(p.relative_to(ROOT)): p.read_text(encoding="utf-8") for p in _all_sources()}
    pkg = [path for path in texts if path.startswith(PKG + "/")]
    assert len(pkg) > 20
    assert unreferenced_defs(texts, pkg) == []


def early_pyspark_imports(source: str, filter_call: str) -> list[int]:
    """The lines of ``source`` importing pyspark before a call to
    ``filter_call`` has run: at module level, or in a function before
    its first call to ``filter_call`` (or with none)."""
    def is_pyspark(node):
        mods = ([a.name for a in node.names] if isinstance(node, ast.Import)
                else [node.module or ""] if isinstance(node, ast.ImportFrom) else [])
        return any(m == "pyspark" or m.startswith("pyspark.") for m in mods)

    tree = ast.parse(source)
    early = []
    for stmt in tree.body:
        if not isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            early += [n.lineno for n in ast.walk(stmt) if is_pyspark(n)]
            continue
        calls = [n.lineno for n in ast.walk(stmt) if isinstance(n, ast.Call)
                 and isinstance(n.func, ast.Name) and n.func.id == filter_call]
        early += [n.lineno for n in ast.walk(stmt)
                  if is_pyspark(n) and (not calls or n.lineno <= min(calls))]
    return sorted(early)


def test_early_pyspark_import_detector():
    flagged = [
        "import pyspark.daemon\ndef main():\n    drop(1)\n",
        "def main():\n    from pyspark import daemon\n    drop(1)\n",
        "def main():\n    import pyspark\n",
        "if True:\n    import pyspark\n",
    ]
    for source in flagged:
        assert early_pyspark_imports(source, "drop"), source
    ok = "import os\ndef main():\n    drop(1)\n    import pyspark.daemon\n"
    assert early_pyspark_imports(ok, "drop") == []


def test_worker_daemon_filters_the_path_before_importing_pyspark():
    init = ast.parse((ROOT / PKG / "__init__.py").read_text(encoding="utf-8"))
    assert [n for n in ast.walk(init) if isinstance(n, (ast.Import, ast.ImportFrom))] == []
    daemon = (ROOT / PKG / "worker_daemon.py").read_text(encoding="utf-8")
    assert "pyspark.daemon" in daemon
    assert early_pyspark_imports(daemon, "droppable_archives") == []
