"""``sources.tpch.load_table`` reuses the parquet schema it inferred
for a table while the table's files are unchanged: a repeated scan
fires no schema-inference job while the query is built, and a rewrite
at the same path is read with its new schema."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from spark_sorted_spark.sources.tpch import load_table


def _jobs(spark, build):
    """``(result of build(), Spark jobs it started)``."""
    sc = spark.sparkContext
    group = f"load-table-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "load_table schema reuse")
    try:
        out = build()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_file(path, extra=False):
    cols = {"id": pa.array([1, 2, 3], pa.int64()), "name": ["a", "b", "c"]}
    if extra:
        cols["score"] = pa.array([0.5, 1.0, 1.5], pa.float64())
    pq.write_table(pa.table(cols), path)


def _write_dir(spark, path, extra=False):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id bigint, name string")
    if extra:
        df = df.selectExpr("*", "id * 0.5 AS score")
    df.coalesce(2).write.mode("overwrite").parquet(path)


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_unchanged_table_scans_without_a_job(spark, tmp_path, layout):
    path = str(tmp_path / "t.parquet")
    if layout == "file":
        _write_file(path)
    else:
        _write_dir(spark, path)
    first, n1 = _jobs(spark, lambda: load_table(spark, "t", str(tmp_path)))
    second, n2 = _jobs(spark, lambda: load_table(spark, "t", str(tmp_path)))
    assert n1 >= 1, "the first scan infers the schema with a job"
    assert n2 == 0
    assert second.schema == first.schema
    assert sorted(map(tuple, second.collect())) == [(1, "a"), (2, "b"), (3, "c")]


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewritten_table_returns_new_schema(spark, tmp_path, layout):
    path = str(tmp_path / "t.parquet")
    write = _write_file if layout == "file" else lambda p, **kw: _write_dir(spark, p, **kw)
    write(path)
    assert load_table(spark, "t", str(tmp_path)).columns == ["id", "name"]
    write(path, extra=True)
    df = load_table(spark, "t", str(tmp_path))
    assert df.columns == ["id", "name", "score"]
    assert sorted(map(tuple, df.collect())) == [(1, "a", 0.5), (2, "b", 1.0), (3, "c", 1.5)]


def test_rewrite_inside_a_nested_partition_returns_new_schema(spark, tmp_path):
    # the top level of the table does not change: only a file two
    # partition levels down is rewritten
    part = tmp_path / "t.parquet" / "a=1" / "b=2"
    part.mkdir(parents=True)
    _write_file(str(part / "part-0.parquet"))
    assert load_table(spark, "t", str(tmp_path)).columns == ["id", "name", "a", "b"]
    _write_file(str(part / "part-0.parquet"), extra=True)
    df = load_table(spark, "t", str(tmp_path))
    assert df.columns == ["id", "name", "score", "a", "b"]
    assert sorted(map(tuple, df.collect()))[0] == (1, "a", 0.5, 1, 2)


def test_inference_settings_are_part_of_the_generation(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert load_table(spark, "t", str(tmp_path)).schema["b"].dataType.simpleString() == "binary"
        spark.conf.set(key, "true")
        assert load_table(spark, "t", str(tmp_path)).schema["b"].dataType.simpleString() == "string"
    finally:
        spark.conf.set(key, prev)


def test_missing_table_raises(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        load_table(spark, "nope", str(tmp_path))
