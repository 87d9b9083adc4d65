"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on
(runtime re-plan + skew-join handling), Arrow enabled for the pandas
paths, shuffle partitions sized to cores rather than the 200 default.
On a 1000-executor cluster the same builder applies with
``spark.sql.shuffle.partitions`` sized to ~2-3x total cores and
``spark.sql.files.maxPartitionBytes`` left at 128m so scan tasks stay
memory-bounded regardless of input size.

Local masters also run the Python workers under
``pyworker/zipcache_daemon.py`` (``spark.python.daemon.module``): on
CPython 3.11 the stock daemon re-reads the zip directories of
pyspark.zip and the spark-core jar at every task (~200 ms a task).
The module sits alone in its directory, which goes on the workers'
``PYTHONPATH``, so the daemon starts without importing this package.

Two more defaults keep fixed per-query costs out of repeated work:

* ``spark.sql.codegen.cache.maxEntries`` = ``CODEGEN_CACHE_ENTRIES``
  (Spark: 100, a static setting). Spark keeps the classes it
  generates in that cache, split into LRU segments, so it evicts well
  below 100. One construction and run of every registered query at
  sf0.001 compiles 1,987 distinct classes, and two passes 2,079; one
  pass of ``pipeline_clean_corpus`` and ``bm25_join`` compiles 112,
  and at the default size a second pass compiled 57-78 of them again
  (0.55-0.75 s of compile time a pass, and the new classes run
  un-JIT'd). The cache is sized at about twice the catalog count: a
  second pass compiles 0-2 classes. An entry is the generated source
  (9.6 KB on average) plus its compiled classes: the catalog's 2,079
  held in the cache cost about 140 MB of driver heap and 15 MB of
  metaspace (after a full GC: 370 MB of heap vs 234 MB at the default
  size, which compiled 6,093 classes over the same two passes).
* ``spark.sql.sources.parallelPartitionDiscovery.threshold`` = 100000
  (Spark: 32). Past 32 subdirectories Spark lists a partitioned
  directory with a distributed job of one task per subdirectory, on
  every read: an LSH index has one per bucket. Listing on the driver
  took the ``similarity_ann_lsh`` build from 2.60-3.05 s and 225
  tasks to 1.12-1.25 s and 6 tasks (sf0.01, ``local[4]``).

Two more remove fixed costs from scans and streams:

* ``spark.sql.files.openCostInBytes`` = ``FILE_OPEN_COST_BYTES``
  (256 KiB; Spark: 4 MiB). A scan's split size is
  ``min(maxPartitionBytes, max(openCost, (bytes + files * openCost) /
  parallelism))``, so at the default every file under 4 MiB is one
  split, whatever its row groups: perfbench's 3.3 MB, 3-row-group
  ``events`` scanned as 1 task, its rows on one core. At 256 KiB a
  few-MB file splits by row group (``events``: 3 non-empty tasks),
  while an 80 KB ``documents`` file stays 1 split. A split without a
  row group reads only the footer; ``functions/dedup.py``
  (``_planned_partitions``) counts just the splits that hold one.
  Safe at scale: ``maxPartitionBytes`` (128 MiB) still caps the
  split, so a large scan plans as before; only many small files pack
  more of them into one task.
* ``spark.sql.streaming.checkpointFileManagerClass`` =
  ``FileSystemBasedCheckpointFileManager``, on local masters (the gate
  of the worker daemon). Spark's default manager writes checkpoints
  through ``FileContext``, whose rename without Hadoop's native library
  resolves links by forking ``readlink``, for the stream thread's
  offset and commit logs and for every state-store commit: 112 forks
  per perfbench ``stream_session_window`` drain (``local[4]``, counted
  with fork-logging wrappers of the commands on ``PATH``). The
  FileSystem manager is Spark's own fallback: it writes a temporary
  file and renames it with the ``FileSystem`` API, with 0 ``readlink``
  forks; 10 drains took 4.77 s instead of 5.71 s. Its rename is atomic
  on local and HDFS file systems; a cluster master keeps Spark's
  default, which is right for HDFS.

Two more keep driver-side query construction cheap:

* ``spark.python.sql.dataFrameDebugging.enabled`` = false (PySpark 4:
  true, a static setting). With it on, PySpark wraps every function
  and Column call in ``_with_origin``, which per call reads the
  active session and ``spark.sql.stackTracesInDataFrameContext``
  through py4j, walks the Python stack (trying ``import IPython``)
  and sets and clears ``PySparkCurrentOrigin`` in the JVM. Off,
  ``F.col`` took 120-124 µs instead of 462 and
  ``(F.col("a") + F.lit(1)) > F.col("b")`` 424-433 µs instead of
  1,840-1,861 (min of 5 x 1,000 calls, ``local[2]``, 4-core host). A
  second construction at sf0.01 sent 798 py4j commands instead of
  1,378 (``bm25_join``) and 1,097 instead of 1,927
  (``pipeline_clean_corpus``). What is lost: DataFrame error contexts
  no longer name the Python call site. PySpark caches the setting per
  Python process at its first wrapped call.
* ``spark.sql.codegen.useIdInClassName`` = false (Spark: true). The
  generated class name then omits the whole-stage codegen id, which
  AQE assigns in the order it plans query stages. Over a cached
  corpus that order changed between ``pipeline_clean_corpus`` passes,
  so the same code was compiled again under another name (4 classes
  in one pass); without the id, identical code shares one class. The
  first pass over a cached sf0.001 corpus compiled 56 classes instead
  of 72. What is lost: stack traces and profiles show
  ``GeneratedIterator`` without the stage id (plans still print it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PYWORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pyworker")
CODEGEN_CACHE_ENTRIES = 4096
FILE_OPEN_COST_BYTES = 256 * 1024
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
        .config("spark.sql.files.openCostInBytes", str(FILE_OPEN_COST_BYTES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    if master.startswith("local"):
        # the daemon module must exist on every executor's file system:
        # true only when the executors share the driver's
        builder = builder.config(
            "spark.python.daemon.module", "zipcache_daemon"
        ).config("spark.executorEnv.PYTHONPATH", _PYWORKER_DIR)
        # a local disk's FileSystem rename is atomic and forks nothing
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass", _FS_CHECKPOINT_MANAGER
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
