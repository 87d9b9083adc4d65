"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on
(runtime re-plan + skew-join handling), Arrow enabled for the pandas
paths, shuffle partitions sized to cores rather than the 200 default.
Local masters also run the Python workers under
``pyworker/zipcache_daemon.py`` (``spark.python.daemon.module``): on
CPython 3.11 the stock daemon re-reads the zip directories of
pyspark.zip and the spark-core jar at every task (~200 ms a task).
The module sits alone in its directory, which goes on the workers'
``PYTHONPATH``, so the daemon starts without importing this package.
On a 1000-executor cluster the same builder applies with
``spark.sql.shuffle.partitions`` sized to ~2-3x total cores and
``spark.sql.files.maxPartitionBytes`` left at 128m so scan tasks stay
memory-bounded regardless of input size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PYWORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pyworker")


def get_spark(
    app_name: str = "spark_sorted_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # coarser Arrow batches cut per-batch Python dispatch overhead
        # in the mapInPandas streaming tier (~8% at sf0.1, more as
        # group count grows); state stays O(batch) either way
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    if master.startswith("local"):
        # the daemon module must exist on every executor's file system:
        # true only when the executors share the driver's
        builder = builder.config(
            "spark.python.daemon.module", "zipcache_daemon"
        ).config("spark.executorEnv.PYTHONPATH", _PYWORKER_DIR)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
