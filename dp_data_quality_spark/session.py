"""SparkSession factory tuned for the quality-filter workload.

Replaces the reference's ``spark_setup.py`` (Delta/S3A wiring,
/root/reference/dp_data_quality/spark_setup.py:14-28) with a
cluster-scale-minded configuration: AQE on (runtime coalesce + skew-join
splitting), Arrow on (pandas-UDF hot path), UTC session timezone for
deterministic timestamp semantics.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

# The Python daemon a local session's workers run (see worker_daemon):
# Spark's own, started on a path without the archives a directory
# install makes redundant.
WORKER_DAEMON_MODULE = "dp_data_quality_spark.worker_daemon"


def get_spark(
    app_name: str = "dp_data_quality_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller passes nothing and spark-submit supplies the master.
    ``shuffle_partitions`` defaults to the local core count (not Spark's
    200) so small-SF local runs don't drown in empty partitions; at
    cluster scale AQE coalesces anyway.

    On a local master (``local``, ``local[N]``, ``local[*]``) the Python
    workers run ``worker_daemon`` (``spark.python.daemon.module``): the
    workers share the driver's environment there, so they can import
    this package.  It drops ``pyspark.zip`` and the py4j zip from the
    worker path when the same versions are installed as directories,
    and the spark-core jar, which holds no Python, always; any other
    archive stays.  Each UDF task then skips re-reading those archives
    in ``importlib.invalidate_caches()`` (about 0.2 s a task).  Worker
    output does not change.  The conf is not set when the package is
    not importable from the worker's path (the working directory,
    ``PYTHONPATH`` or site-packages).  On a cluster, once the package is
    installed on the executors, pass ``--conf
    spark.python.daemon.module=dp_data_quality_spark.worker_daemon`` to
    spark-submit; ``extra_conf`` or ``SPARK_GRAFT_EXTRA_CONF`` override
    it.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # zstd: ~25% smaller text-heavy outputs AND faster wall-clock than
        # snappy on this workload; at 100 TB the size delta is real money
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Contract parity: the reference ran Spark 3 non-ANSI, where a
        # malformed cast yields NULL and '1.0' casts to int 1 — rule
        # semantics (validation_rulebook.py:296-298) depend on this.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    if (master == "local" or master.startswith("local[")) and _workers_can_import_package():
        builder = builder.config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
    # SPARK_GRAFT_EXTRA_CONF: JSON object of extra spark confs — the
    # local-harness mirror of `spark-submit --conf k=v`, so perf
    # experiments and site tuning never require code edits.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json

        for k, v in json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _workers_can_import_package() -> bool:
    """Whether a local Python worker, started by ``python -m`` in this
    process's working directory with its environment, finds this
    package: its parent directory is the working directory, on
    ``PYTHONPATH`` or a site-packages directory."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
             *site.getsitepackages(), site.getusersitepackages()]
    return any(p and os.path.abspath(p) == root for p in paths)


def _hadoop_fs(spark: SparkSession, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked through the Hadoop FileSystem API
    (URI paths work; no Spark job runs)."""
    p, fs = _hadoop_fs(spark, path)
    return bool(fs.exists(p))


def glob(spark: SparkSession, pattern: str) -> list[str]:
    """The paths matching the Hadoop glob ``pattern``, asked through the
    Hadoop FileSystem API (no Spark job runs)."""
    p, fs = _hadoop_fs(spark, pattern)
    return [str(s.getPath().toString()) for s in fs.globStatus(p) or []]


def read_text(spark: SparkSession, path: str) -> str | None:
    """The UTF-8 file at ``path``, or ``None`` if there is none.  Goes
    through the Hadoop FileSystem API, so URI paths (s3a://, hdfs://,
    file:) work, and runs no Spark job."""
    if not exists(spark, path):
        return None
    p, fs = _hadoop_fs(spark, path)
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def write_text(spark: SparkSession, path: str, text: str, overwrite: bool = True) -> str:
    """Write ``text`` as UTF-8 to ``path`` through the Hadoop FileSystem
    API (pathlib would mangle the scheme: 's3a://b/x' -> 's3a:/b/x').
    Returns the qualified path."""
    p, fs = _hadoop_fs(spark, path)
    stream = fs.create(p, overwrite)
    try:
        stream.write(bytearray(text, "utf-8"))
    finally:
        stream.close()
    return str(p.toString())
