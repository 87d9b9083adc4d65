"""Bounded-stream execution helper.

``trigger(availableNow=True)`` drains everything currently in the
source through the streaming engine's incremental operators and stops
— the canonical batch-parity harness, and in production the pattern
for catch-up/backfill runs of a streaming pipeline.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession


def run_available_now(
    sdf: DataFrame,
    *,
    output_mode: str = "append",
    query_name: str | None = None,
    timeout_sec: int = 300,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Run a (bounded) streaming DataFrame to completion into a memory
    sink; return the sink's contents as a batch DataFrame.

    ``checkpoint_dir`` makes the run resumable: watermark, source
    offsets, and operator state persist there, so a second call with
    the same dir continues where the first stopped — the
    incremental-backfill pattern (and how the watermark tests pin
    late-data semantics deterministically).

    The sink's temp view is dropped once the result is resolved: the
    returned DataFrame keeps the sink's rows alive for as long as it
    is referenced, and the session catalog does not collect one view
    per call."""
    name = query_name or f"q_{uuid.uuid4().hex[:12]}"
    writer = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    _drain(writer, timeout_sec, name)
    spark: SparkSession = sdf.sparkSession
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def _drain(writer, timeout_sec: int, what: str) -> None:
    """Start ``writer``, wait for its availableNow run to finish, and
    always stop it — the one start/await/stop of this package."""
    q = writer.start()
    try:
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(f"streaming query {what} did not finish")
    finally:
        q.stop()


def _drain_foreach(
    sdf: DataFrame, process, checkpoint_dir: str, timeout_sec: int, what: str
) -> None:
    """Drain ``sdf`` availableNow through ``foreachBatch(process)`` with
    its checkpoint at ``checkpoint_dir``."""
    writer = (
        sdf.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    _drain(writer, timeout_sec, what)


def stream_to_files(
    sdf: DataFrame,
    path: str,
    checkpoint_dir: str,
    *,
    format: str = "parquet",
    output_mode: str = "append",
    partition_by: list[str] | str | None = None,
    timeout_sec: int = 300,
) -> None:
    """Drain a (bounded) streaming DataFrame into a file sink — the
    production shape of `run_available_now` (which exists for oracle
    parity via the memory sink).

    The checkpoint is MANDATORY because it is what makes the file sink
    exactly-once: source offsets committed there plus the sink's
    transaction log (`path/_spark_metadata`) mean a crashed or
    re-triggered run never duplicates and never loses a micro-batch —
    re-invoking with the same checkpoint picks up exactly the files
    that arrived since the last drain (the incremental-backfill loop a
    100 TB ingest actually runs). ``partition_by`` lays out directory
    partitions, composing with `sources.io.read_source` pruning.
    """
    writer = (
        sdf.writeStream.format(format)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .option("path", path)
        .trigger(availableNow=True)
    )
    if partition_by:
        if isinstance(partition_by, str):
            partition_by = [partition_by]
        writer = writer.partitionBy(*partition_by)
    _drain(writer, timeout_sec, "file-sink drain")
