"""SparkSession factory tuned for this engine.

Local sandbox runs on ``local[N]`` (one JVM); production target is a
multi-executor cluster via ``spark-submit --py-files``. Everything here is
plain public Spark configuration:

- AQE on (runtime coalesce + skew-join splitting),
- Arrow on (all Python stages are vectorized pandas UDFs),
- shuffle partitions sized to cores locally (cluster: 2-3x total cores).

A local session this factory pins runs its Python workers under the
package's own daemon, :mod:`..daemon`. On CPython 3.11 and older every
Python task re-reads the central directory of ``pyspark.zip`` before it
starts (``importlib.invalidate_caches``; CPython 3.12 made the re-read
lazy, gh-103200) — about 250 ms a task, which dominated warm reads. The
daemon keeps each zip directory until the archive changes. A session
whose master comes from a launcher (``spark-submit``) keeps Spark's own
daemon: there the package may reach the workers only per task, through
``--py-files``, so a daemon module of it cannot be imported before the
first task.

The reference runs single-process/single-thread (SURVEY.md §6,
reference Dockerfile:1); parallelism is entirely this engine's addition.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the package: Python workers import the daemon
# (and every package UDF) from it, whatever the driver's cwd
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _launcher_sets_master() -> bool:
    """Did a launcher configure this driver's master? ``spark-submit``
    starts the driver's JVM first and hands it over through
    ``PYSPARK_GATEWAY_PORT``, with ``--master`` (or its default) already
    in that JVM's conf; ``PYSPARK_SUBMIT_ARGS`` carries ``--master`` to
    the JVM pyspark starts itself."""
    return ("PYSPARK_GATEWAY_PORT" in os.environ
            or bool(os.environ.get("SPARK_MASTER"))
            or "--master" in os.environ.get("PYSPARK_SUBMIT_ARGS", "").split())


def get_spark(
    app_name: str = "prow_jobs_scraper_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or '*'. On a real cluster the
    master/instances come from spark-submit and this builder only sets SQL
    conf; ``master`` (and the worker daemon) are applied only if no
    launcher configured the master.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
    else:
        master = f"local[{cores}]"
    n_threads = os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(n_threads))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if not _launcher_sets_master():
        builder = (
            builder.master(master)
            .config("spark.python.daemon.module",
                    "prow_jobs_scraper_spark.daemon")
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
