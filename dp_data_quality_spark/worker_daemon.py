"""Spark's Python daemon, started on a ``sys.path`` free of archives that
a directory install makes redundant.

Every Python-UDF task runs pyspark's ``worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``.  On Python 3.11 that makes
each cached ``zipimporter`` re-read its archive's central directory, on
every task.  Spark puts three archives on the worker ``PYTHONPATH``:
``pyspark.zip``, the py4j source zip and the spark-core jar (5,359
entries, no Python in it).  Their 16 zipimporters cost about 0.2 s per
task; with none left the call takes about 0.1 ms (docs/PERF.md).

Run as ``python -m dp_data_quality_spark.worker_daemon`` (the
``spark.python.daemon.module`` that ``session.get_spark`` sets for a
local master), it drops from ``sys.path`` each archive that is safe to
drop, removes the zipimporters of those archives from
``sys.path_importer_cache``, then hands over to
``pyspark.daemon.manager()`` unchanged.  An archive is safe to drop when

- it holds no Python module (the spark-core jar), or
- every top-level package it holds can be imported from a directory
  that comes first on the rest of the path, and that directory's
  ``<pkg>/version.py`` has the archive's ``__version__`` (pyspark and
  py4j installed in site-packages at the version Spark ships).

Any other archive stays, so a cluster whose executors have pyspark only
as the shipped zip runs as before.  Nothing here imports pyspark before
the path is filtered (``tests/test_import_boundary.py`` checks), and the
package ``__init__`` imports nothing, so ``python -m`` loads no pyspark
module from an archive.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile

_VERSION = re.compile(r"""^__version__\s*(?::[^=]*)?=\s*['"]([^'"]+)['"]""", re.M)


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _archive_contents(entry: str) -> dict[str, str | None] | None:
    """``{top-level module: its version.py __version__ or None}`` for the
    Python modules in the zip archive ``entry``; ``None`` if ``entry`` is
    not a readable zip archive."""
    if not os.path.isfile(entry):
        return None
    try:
        with zipfile.ZipFile(entry) as z:
            names = z.namelist()
            tops = {
                n.split("/")[0] if "/" in n else n.rsplit(".", 1)[0]
                for n in names if n.endswith((".py", ".pyc"))
            }
            return {
                top: _version(z.read(f"{top}/version.py").decode("utf-8", "replace"))
                if f"{top}/version.py" in names else None
                for top in tops
            }
    except (OSError, zipfile.BadZipFile):
        return None


def _directory_provides(entry: str, top: str) -> bool:
    base = os.path.join(entry or ".", top)
    return os.path.isdir(base) or os.path.isfile(base + ".py")


def _directory_version(entry: str, top: str) -> str | None:
    try:
        with open(os.path.join(entry or ".", top, "version.py"), encoding="utf-8") as f:
            return _version(f.read())
    except OSError:
        return None


def droppable_archives(path: list[str]) -> list[str]:
    """The archive entries of ``path`` that can leave it without changing
    what an import finds: those with no Python module, and those whose
    every top-level module is found first, on the rest of ``path``, in a
    directory holding the same ``version.py`` ``__version__``."""
    archives = {e: c for e in path if (c := _archive_contents(e)) is not None}
    drop = []
    for archive, contents in archives.items():
        rest = [e for e in path if e != archive]
        if all(_found_in_matching_directory(top, version, rest, archives)
               for top, version in contents.items()):
            drop.append(archive)
    return drop


def _found_in_matching_directory(
    top: str, version: str | None, rest: list[str], archives: dict[str, dict]
) -> bool:
    """Whether the first entry of ``rest`` providing module ``top`` is a
    directory whose ``top/version.py`` says ``version`` (never ``None``)."""
    for entry in rest:
        if entry in archives:
            if top in archives[entry]:
                return False
        elif _directory_provides(entry, top):
            return version is not None and _directory_version(entry, top) == version
    return False


def main() -> None:
    drop = droppable_archives(sys.path)
    sys.path[:] = [e for e in sys.path if e not in drop]
    # an archive's importers are cached under its path and under
    # subdirectories of it ("<jar>/org/")
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in drop):
            del sys.path_importer_cache[key]

    import pyspark.daemon

    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
