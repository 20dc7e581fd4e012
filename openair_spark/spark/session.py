"""SparkSession helpers tuned for the sandbox (local[N]) while keeping
cluster-honest defaults (AQE, sane shuffle partitions, Arrow enabled).

Python workers come from `openair_spark.spark.daemon`, not the stock
`pyspark.daemon`. Each Python task calls `importlib.invalidate_caches()`,
and on Python 3.11 that makes every cached zip importer re-read its
archive (pyspark.zip, py4j, the spark-core jar): 0.2-0.3 s of worker
CPU per task before the kernel starts, measured on a 4-core VM. The
engine daemon re-reads an archive only when it changed. Sessions built
here use it (tests, perfbench, tools that call `get_spark`);
`jobs/parse_job.py` runs under spark-submit with the engine shipped as a
zip and keeps the stock daemon.

The package's parent directory goes on the workers' PYTHONPATH, so the
daemon and every kernel import the engine whatever the driver's working
directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def get_spark(app_name: str = "openair-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "openair_spark.spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", _ENGINE_ROOT)
        .getOrCreate()
    )
