"""SparkSession factory tuned for the local[N] sandbox.

On a real cluster the same settings apply except master/memory, which
spark-submit supplies; AQE + adaptive coalescing + skew-join stay on.

Defaults come from the machine: ``local[N]`` with N = the CPUs this
process may use, and a driver heap of half of MemTotal (in local mode
the driver heap is every executor's heap). ``SPARK_GRAFT_CPUS``,
``SPARK_DRIVER_MEM`` and explicit arguments win over both.

Python workers import the installed pyspark, not ``pyspark.zip``.
Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip
and the spark-core jar at the front of every worker's ``sys.path``, and
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` on every task. That makes each of the
worker's ~16 cached zip importers re-read its archive's directory (the
pyspark zip alone has 1,328 entries): ~0.2-0.3 s of worker CPU per
task on a 4-core host (Python 3.11, Spark 4.1), against kernels that
take milliseconds. In a serve_mixed lookup the re-reads were 2.94 of
the 2.97 s of worker CPU. So, when the driver loaded this package from
a directory, the workers start from the engine daemon
(``georasters_spark.worker_daemon``; see ``engine_daemon_conf``),
which drops those archives from the path when a directory on it
provides py4j and the same pyspark, preloads and freezes the worker's
common imports, and then runs ``pyspark.daemon``. A task's fixed
worker cost falls from ~280 ms to a few ms (``tools/worker_task_cost.py``
measures it). When the package arrives as a zip (``spark-submit
--py-files``, ``tools/submit.sh``) the stock daemon is kept: the zip
reaches the workers with each task, after the daemon has started, so
the daemon cannot be imported from it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half of MemTotal, in MiB."""
    with open("/proc/meminfo") as fh:
        kib = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return f"{max(1024, kib // 2048)}m"


def engine_daemon_conf() -> dict:
    """Conf that starts Python workers from the engine daemon, with the
    directory holding this package on the workers' path; empty when the
    package was loaded from an archive (its directory does not exist)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        return {}
    return {
        "spark.python.daemon.module": "georasters_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": os.path.dirname(pkg_dir),
    }


def get_spark(
    app_name: str = "georasters_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
    )
    for k, v in {**engine_daemon_conf(), **(extra_conf or {})}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
