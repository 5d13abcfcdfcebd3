"""SparkSession factory tuned for the engine.

Local mode stands in for a multi-executor cluster; every setting here
is chosen so the same code scales to 1000 executors:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
  replaces GDAL's fixed 64 MiB warp chunking
  (reference: alg/gdalwarpoperation.cpp:599-601) with adaptive sizing.
- Arrow execution on: all pandas UDF traffic is Arrow-batched
  (the reference's own columnar fast path is its Arrow bridge,
  ogr/ogrsf_frmts/generic/ogrlayerarrow.cpp).
- Arrow batches are bounded by bytes as well as rows: 4,096 rows of
  64 KiB band planes would be 256 MiB per batch in a tile stage.
- shuffle.partitions defaults to 2x cores locally; on a real cluster
  set it to ~2-3x total executor cores (AQE coalesces the excess).
- Python workers start from `gdal_spark.worker`, not `pyspark.daemon`
  (`spark.python.daemon.module`). Spark puts its own `pyspark.zip` and
  `spark-core` jar first on the worker path, and PySpark's per-task
  `importlib.invalidate_caches()` then makes every cached zipimporter
  re-read its archive's directory: ~0.1 s of CPU per Arrow task before
  any user code runs, paid by every applyInPandas/mapInPandas stage.
  The daemon imports the install's unpacked pyspark instead and drops
  the jar, so that cost is gone. Spark starts the daemon before any
  `--py-files` reach the workers, so it is pinned only where the
  workers can already import `gdal_spark`: local mode on a JVM whose
  PYTHONPATH holds the repo (the JVM this process launches itself).
  Under spark-submit, or on a cluster, workers keep `pyspark.daemon`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


ARROW_MAX_BATCH_BYTES = 16 * 1024 * 1024


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "gdal-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 32)

    # make gdal_spark importable in executor python workers regardless
    # of the launching process's cwd
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_MAX_BATCH_BYTES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    if _workers_import_repo(master):
        builder = builder.config(
            "spark.python.daemon.module", "gdal_spark.worker"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _workers_import_repo(master: str) -> bool:
    """Whether the session's Python workers can import `gdal_spark` as
    soon as they start: its executors are the driver JVM (local mode),
    and this process launches that JVM, with the repo on PYTHONPATH.
    Under spark-submit the JVM is already running (PYSPARK_GATEWAY_PORT
    is set) with an environment this process did not build."""
    from pyspark import SparkContext

    return (
        (master == "local" or master.startswith("local["))
        and SparkContext._gateway is None
        and "PYSPARK_GATEWAY_PORT" not in os.environ
    )
