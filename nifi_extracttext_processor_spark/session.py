"""SparkSession factory tuned for this engine.

Local testing uses local[N]; the configs below are the ones that matter
at cluster scale too (AQE, skew handling, Arrow batching for large text
payloads — SURVEY §4).

Python workers run under ``pydaemon`` (``spark.python.daemon.module``):
pyspark 4.1.2 calls ``importlib.invalidate_caches()`` once per task
(``pyspark/worker_util.py:144``), and on CPython 3.11 every zipimporter
over ``pyspark.zip`` then re-reads the archive's central directory
(``zipimport.py:329``), about 0.23 s of worker CPU per task. The package
daemon re-reads an archive only when it changed. A session built without
``get_spark`` uses the stock daemon and still pays that per task. The
package's parent directory goes on the workers' ``PYTHONPATH``, so the
daemon starts whatever the driver's working directory is.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# directory holding this package, for the Python workers' PYTHONPATH
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))

_BLAS_ENV = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
             "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS")


def get_spark(
    app_name: str = "nifi-extracttext-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Task parallelism comes from Spark (one worker per core); an
    # unpinned BLAS additionally spins up a per-worker thread pool at
    # numpy import (N workers x N BLAS threads), which oversubscribes
    # and, on some kernels, burns seconds of sys time per worker in
    # thread creation/spin-wait. Pin the math libraries to one thread
    # per worker — the standard config for data-parallel executors.
    # setdefault: an explicit operator/user override still wins.
    for var in _BLAS_ENV:
        os.environ.setdefault(var, "1")
    # optional connector jars (Avro merge format / Kafka sink — B13/B15):
    # SPARK_GRAFT_PACKAGES="org.apache.spark:spark-avro_2.13:4.0.0,..."
    packages = os.environ.get("SPARK_GRAFT_PACKAGES", "")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # multi-MB extracted texts: keep Arrow batches small enough to
        # bound Python-worker memory (SURVEY §4 last paragraph)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.ts is TIMESTAMP(NANOS) which vanilla Spark
        # rejects; read as long and convert in sources.tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # workers skip the per-task pyspark.zip re-read (module docstring)
        .config("spark.python.daemon.module",
                "nifi_extracttext_processor_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    # cluster mode: executors are separate JVMs and do not inherit the
    # driver's environment — ship the BLAS pin explicitly
    for var in _BLAS_ENV:
        builder = builder.config(f"spark.executorEnv.{var}", "1")
    if packages:
        builder = builder.config("spark.jars.packages", packages)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
