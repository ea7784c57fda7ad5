"""SparkSession factory.

The reference runs Celery workers against MySQL (`tasks/backend/__init__.py`);
our engine runs Spark jobs. This factory applies the configs that matter at
100 TB scale (AQE, skew handling, Arrow for the few pandas-UDF operators) while
remaining correct on ``local[*]`` test runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the 100 TB design point, harmless locally:
#  - AQE on: runtime shuffle-partition coalescing + skew-join splitting means we
#    do not hand-tune spark.sql.shuffle.partitions per query.
#  - Arrow on: the stateful operators (continuous-contract selection) use
#    applyInPandas; Arrow batching is the difference between 10x and 100x
#    slower-than-JVM for those paths.
#  - UTC session tz: all reference data is exchange-local dates stored naive;
#    we standardise on UTC naive semantics so parquet timestamps round-trip.
_ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Parquet naive timestamps (isAdjustedToUTC=false) must read as TIMESTAMP
    # (LTZ), not TIMESTAMP_NTZ: streaming watermarks/windows require LTZ event
    # time, and with the UTC session tz the wall-clock values are identical.
    # Without this, files written by engines that store naive micros (the
    # testdata generator, pandas/pyarrow defaults) flip the column type with
    # Spark 4's NTZ inference and break withWatermark.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Broadcast threshold: dimension tables (instrument info, calendars,
    # code_mapping) are ≤ a few hundred MB even at full scale — broadcast them.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Files: 128m split size (Spark's default) keeps scan parallelism aligned
    # with HDFS/S3 blocks.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Python workers fork from the engine's daemon (worker_daemon.py).
    # PySpark calls importlib.invalidate_caches() at the start of every task,
    # and on CPython <= 3.11 that re-reads the central directory of
    # pyspark.zip and py4j's zip once per zip importer: 16 reads, 130-220 ms
    # of CPU per task on a 4-vCPU VM (CPython 3.11.7). The daemon re-reads
    # an archive only when it changed on disk.
    "spark.python.daemon.module": "data_integration_celery_spark.worker_daemon",
}

# the directory holding this package
_CHECKOUT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "data_integration_celery_spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster master
    is configured — tests and bench run single-JVM, production submits with a
    real master and these settings still apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    for k, v in _ENGINE_CONFS.items():
        builder = builder.config(k, v)
    conf = dict(extra_conf or {})
    # Spark starts the worker daemon with `python -m`, so it must import
    # whatever the working directory: without the checkout on the workers'
    # path, every Python stage of a process started outside it fails with
    # "Error while finding module specification"
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(filter(None, (
        _CHECKOUT_ROOT, conf.get("spark.executorEnv.PYTHONPATH"))))
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine runtime confs to an externally-created session.

    The driver hands us a bare SparkSession; these are the settings that are
    safe to set post-creation (all are runtime SQL confs). Static confs —
    the driver heap, and ``spark.python.daemon.module`` with the checkout on
    the workers' ``PYTHONPATH`` — take effect only when a session is built,
    so they never reach an externally created session: its Python workers
    run the stock daemon.
    """
    for k, v in _ENGINE_CONFS.items():
        if k.startswith("spark.sql."):
            try:
                spark.conf.set(k, v)
            except Exception:  # conf may be static on some builds — best effort
                pass
    return spark
