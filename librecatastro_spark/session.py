"""SparkSession factory with scale-aware defaults.

Local mode is single-JVM; the same configs are what we would submit with
``spark-submit --py-files`` on a real cluster (AQE on, Arrow on, shuffle
partitions sized to cores, UTC so results compare bit-for-bit with the
DuckDB oracle).
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

_DAEMON_MODULE = "spark.python.daemon.module"


def _lean_daemon(
    package_root: str, worker_path: list[str], extra_conf: dict[str, str]
) -> bool:
    """Whether local workers can start ``librecatastro_spark.pyworker``:
    the package was imported from a directory (``package_root``, not a
    zip shipped per task with ``--py-files``) that is on the
    ``worker_path`` a local worker starts with, and the caller did not
    choose a daemon module."""
    if _DAEMON_MODULE in extra_conf or not os.path.isdir(package_root):
        return False
    return any(
        os.path.isdir(p) and os.path.samefile(p, package_root)
        for p in worker_path
    )


def get_spark(
    app_name: str = "librecatastro_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. On a real
    cluster the master/size comes from spark-submit and these fall away.
    Python workers run ``librecatastro_spark.pyworker`` when they can
    import it (``_lean_daemon``), else the stock daemon.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            # local mode: every executor thread shares the driver JVM heap —
            # size it with the thread count (8 GB at 8 threads GC-thrashes
            # badly at 32; measured 141 s → 82 s on the same build)
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(8, cores // 2)}g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    extra_conf = dict(extra_conf or {})
    # a local worker runs ``python -m``: its path is the JVM's cwd, then
    # PYTHONPATH, then the interpreter's site directories
    worker_path = [
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
        site.getusersitepackages(),
    ]
    package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if _lean_daemon(package_root, worker_path, extra_conf):
        extra_conf[_DAEMON_MODULE] = "librecatastro_spark.pyworker"
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
