"""Parquet sources for the driver's TPC-H-ish tables (TESTDATA.md).

The reference has no sources of its own (any ``RDD[(K, V)]`` is input
— SURVEY §2.1); ours are parquet scans, which give Catalyst predicate
pushdown, column pruning and partition pruning for free. At 100 TB
these would be partitioned/bucketed table paths; the API is the same.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Session settings parquet schema inference reads: part of the
# generation a cached schema is valid for.
_INFERENCE_CONFS = (
    "spark.sql.caseSensitive",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.session.timeZone",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Scan of ``{sf_dir}/{name}.parquet`` (a file or a directory).

    The parquet schema is inferred once per file generation: inference
    runs a Spark job of its own, so a repeated scan of an unchanged
    table reads with the schema inferred before
    (``spark.read.schema(cached)``) and fires no job while the query is
    built. Staleness contract (``manifest._cached_driver_read``, the
    one ANN index metadata uses): the generation is the path's mtime
    plus its recursive listing — paths, lengths and mtimes of every file
    of a directory, inside partition subdirectories too, the file itself
    otherwise — and the session's parquet
    inference settings (``_INFERENCE_CONFS``). Rewriting the table, in
    place or under new part names, changes the generation and the next
    scan infers again; a missing path raises Spark's own error."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    # Worker closures (mapInPandas etc.) reference this package by
    # module path; ship it so any driver session resolves it (no-op
    # after the first call per context).
    from ..shipping import ensure_workers_can_import
    from .manifest import _cached_driver_read

    ensure_workers_can_import(spark)
    # Event-time portability: the driver's parquet has carried `ts` as
    # nanosecond timestamps (surfaced as epoch-nanos int64 via
    # nanosAsLong) in some rounds and as plain timestamp[us]
    # (TIMESTAMP_NTZ to Spark) in others. Keep the nanos shim for the
    # historical layout — it is a no-op on us-precision files — and pin
    # the session timezone to UTC so TIMESTAMP_NTZ→TIMESTAMP casts are
    # value-preserving, matching DuckDB's naive-as-UTC epoch_us(ts).
    # Never hardcode arithmetic on `ts`; go through event_ts_us /
    # event_ts below, which dispatch on the actual column type.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    schema = _cached_driver_read(
        spark,
        sf_dir,
        f"{name}.parquet",
        lambda: spark.read.parquet(path).schema,
        stamp=tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS),
    )
    return spark.read.schema(schema).parquet(path)


def event_ts_us(df: DataFrame, col: str = "ts") -> Column:
    """Epoch-microseconds for an event-time column, whatever physical
    type this round's parquet presents:

    - TIMESTAMP / TIMESTAMP_NTZ (parquet timestamp[us]) →
      ``unix_micros(cast)`` (session tz is pinned UTC, so the cast is
      value-preserving and matches DuckDB ``epoch_us(ts)``);
    - epoch-nanos int64 (historical nanosAsLong layout) → ``div 1000``
      (integer div — float division loses sub-ms precision).
    """
    dt = df.schema[col].dataType
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return F.unix_micros(F.col(col).cast("timestamp"))
    if isinstance(dt, LongType):
        return F.expr(f"`{col}` div 1000")
    raise TypeError(
        f"column {col!r} has unsupported event-time type {dt}; "
        "teach sources.tpch.event_ts_us about it"
    )


def event_ts(df: DataFrame, col: str = "ts") -> Column:
    """The event-time column as a proper TIMESTAMP (for watermarks,
    F.window / F.session_window). Same type dispatch as event_ts_us."""
    dt = df.schema[col].dataType
    if isinstance(dt, TimestampType):
        return F.col(col)
    if isinstance(dt, TimestampNTZType):
        return F.col(col).cast("timestamp")
    if isinstance(dt, LongType):
        return F.timestamp_micros(F.expr(f"`{col}` div 1000"))
    raise TypeError(
        f"column {col!r} has unsupported event-time type {dt}; "
        "teach sources.tpch.event_ts about it"
    )


def load_tables(
    spark: SparkSession, sf_dir: str | None = None, names=TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, n, sf_dir) for n in names}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register all tables as temp views for the spark.sql entry point."""
    for n in TABLES:
        load_table(spark, n, sf_dir).createOrReplaceTempView(n)
