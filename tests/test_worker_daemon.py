"""The Python worker daemon: which archives leave the worker path, and
what the workers of a ``get_spark`` session import."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

from dp_data_quality_spark.session import WORKER_DAEMON_MODULE, _workers_can_import_package
from dp_data_quality_spark.worker_daemon import droppable_archives

ROOT = Path(__file__).resolve().parents[1]


def _archive(path: Path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _package(root: Path, name: str, version: str) -> str:
    (root / name).mkdir(parents=True)
    (root / name / "__init__.py").write_text("")
    (root / name / "version.py").write_text(f"__version__: str = '{version}'\n")
    return str(root)


def _zipped_package(path: Path, name: str, version: str) -> str:
    return _archive(path, {f"{name}/__init__.py": "",
                           f"{name}/version.py": f"__version__ = '{version}'\n"})


def test_archive_with_a_matching_directory_install_is_dropped(tmp_path):
    site = _package(tmp_path / "site", "pyspark", "4.1.2")
    pyspark_zip = _zipped_package(tmp_path / "pyspark.zip", "pyspark", "4.1.2")
    assert droppable_archives([pyspark_zip, site]) == [pyspark_zip]


def test_archive_whose_version_differs_stays(tmp_path):
    site = _package(tmp_path / "site", "pyspark", "4.1.1")
    pyspark_zip = _zipped_package(tmp_path / "pyspark.zip", "pyspark", "4.1.2")
    assert droppable_archives([pyspark_zip, site]) == []


def test_archive_with_no_directory_install_stays(tmp_path):
    pyspark_zip = _zipped_package(tmp_path / "pyspark.zip", "pyspark", "4.1.2")
    assert droppable_archives([pyspark_zip, str(tmp_path)]) == []


def test_archive_with_a_module_found_nowhere_else_stays(tmp_path):
    site = _package(tmp_path / "site", "pyspark", "4.1.2")
    mixed = _archive(tmp_path / "mixed.zip", {
        "pyspark/__init__.py": "", "pyspark/version.py": "__version__ = '4.1.2'\n",
        "helper.py": "X = 1\n",
    })
    assert droppable_archives([mixed, site]) == []


def test_archive_shadowed_by_another_archive_stays(tmp_path):
    site = _package(tmp_path / "site", "pyspark", "4.1.2")
    first = _zipped_package(tmp_path / "a.zip", "pyspark", "4.1.2")
    second = _zipped_package(tmp_path / "b.zip", "pyspark", "4.1.2")
    # dropping either one leaves pyspark coming from the other archive
    assert droppable_archives([first, second, site]) == []


def test_archive_with_no_python_is_dropped(tmp_path):
    jar = _archive(tmp_path / "core.jar", {
        "META-INF/MANIFEST.MF": "Manifest-Version: 1.0\n",
        "org/apache/spark/SparkContext.class": "\xca\xfe",
    })
    not_an_archive = tmp_path / "notes.txt"
    not_an_archive.write_text("plain text")
    assert droppable_archives([str(not_an_archive), jar, str(tmp_path)]) == [jar]


def test_daemon_is_configured_only_where_workers_can_import_it(tmp_path, monkeypatch):
    monkeypatch.chdir(ROOT)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert _workers_can_import_package()
    monkeypatch.chdir(tmp_path)
    assert not _workers_can_import_package()
    monkeypatch.setenv("PYTHONPATH", f"{tmp_path}{os.pathsep}{ROOT}")
    assert _workers_can_import_package()


_PROBE = """
import json
from dp_data_quality_spark.session import get_spark
from pyspark.sql import functions as F

spark = get_spark("worker-daemon-test", master="local[2]")
conf = spark.sparkContext.getConf()

def probe(_):
    import sys, zipimport, pyspark
    return json.dumps({
        "pyspark": pyspark.__file__,
        "zipimporters": [k for k, v in sys.path_importer_cache.items()
                         if isinstance(v, zipimport.zipimporter)],
    })

def fail(_):
    raise ValueError("scorer exploded on purpose")

rows = spark.range(0, 8, 1, 2).select(F.udf(probe)("id")).collect()
try:
    spark.range(0, 4, 1, 2).select(F.udf(fail)("id")).collect()
    error = None
except Exception as e:
    error = str(e)
print(json.dumps({
    "daemon": conf.get("spark.python.daemon.module", None),
    "use_daemon_set": conf.contains("spark.python.use.daemon"),
    "worker_reuse_set": conf.contains("spark.python.worker.reuse"),
    "workers": sorted({r[0] for r in rows}),
    "error": error,
}))
spark.stop()
"""


def test_get_spark_workers_import_pyspark_from_a_directory():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_EXTRA_CONF"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run([sys.executable, "-c", _PROBE], cwd=ROOT, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["daemon"] == WORKER_DAEMON_MODULE
    assert not out["use_daemon_set"] and not out["worker_reuse_set"]
    assert out["workers"]
    for worker in map(json.loads, out["workers"]):
        assert not any(part.endswith((".zip", ".jar")) for part in Path(worker["pyspark"]).parts)
        assert worker["zipimporters"] == []
    # a UDF that raises still fails its task with the Python message
    assert out["error"] and "scorer exploded on purpose" in out["error"]
