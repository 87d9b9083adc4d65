"""Fixed costs a repeated pass must not pay: generated classes
compiled again, documents tokenized once per n-gram, Spark jobs fired
and py4j round trips made while a query is constructed, and a few-MB
file scanned by one task."""

from __future__ import annotations

import os
import shutil
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from spark_sorted_spark.functions import dedup, packing, text
from spark_sorted_spark.queries import QUERIES
from spark_sorted_spark.sources.tpch import load_table

_PASS = ("pipeline_clean_corpus", "bm25_join")


@pytest.fixture(scope="module")
def corpus_dir(sf_dir, tmp_path_factory):
    """A private copy of the documents table, the only table the pass
    reads: a DataFrame another test cached over ``sf_dir`` would
    otherwise stand in for the scan (AQE then flips broadcast build
    sides between passes, and each side compiles its own classes)."""
    out = tmp_path_factory.mktemp("corpus")
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), out)
    return str(out)


def _jobs(spark, build):
    """``(result of build(), Spark jobs it started)``."""
    sc = spark.sparkContext
    group = f"pass-costs-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "corpus pass costs")
    try:
        out = build()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _run_pass(spark, sf_dir):
    for name in _PASS:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()


def test_second_pass_compiles_almost_nothing(spark, corpus_dir):
    # the first pass fills the class cache (112 classes); at Spark's
    # default size (100 entries) a second pass compiled 57-78 again
    _run_pass(spark, corpus_dir)
    before = _compilations(spark)
    _run_pass(spark, corpus_dir)
    assert _compilations(spark) - before <= 5


def test_cached_corpus_passes_compile_almost_nothing(spark, sf_dir, tmp_path):
    # a cached documents DataFrame stands in for every later scan of
    # the table, and AQE's stage order then varies from pass to pass:
    # the band self-join flipped its broadcast side, and codegen stage
    # ids (part of each class name) moved between stages, 0-12 new
    # classes a pass. The verify joins may still flip; each side's
    # code compiles once
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), tmp_path)
    docs = load_table(spark, "documents", str(tmp_path)).cache()
    try:
        docs.count()
        _run_pass(spark, str(tmp_path))
        for _ in range(3):
            before = _compilations(spark)
            _run_pass(spark, str(tmp_path))
            assert _compilations(spark) - before <= 5
    finally:
        docs.unpersist()


@pytest.mark.parametrize(
    "name, build_jobs",
    [("pipeline_clean_corpus", 0), ("bm25_join", 3)],
)
def test_construction_fires_few_jobs(spark, corpus_dir, name, build_jobs):
    # bm25_join: the query batch collect, then ONE aggregate (a map
    # and a result stage) for n_docs, sum_dl and the vocabulary's df
    QUERIES[name](spark, corpus_dir)  # first build: the table schema
    _, jobs = _jobs(spark, lambda: QUERIES[name](spark, corpus_dir))
    assert jobs <= build_jobs


def _py4j_commands(spark, build) -> int:
    """py4j commands this thread sends while ``build()`` runs (py4j's
    finalizer thread releases JVM handles on its own schedule)."""
    client = spark.sparkContext._gateway._gateway_client
    send, sent, me = client.send_command, [0], threading.get_ident()

    def counting(*args, **kwargs):
        sent[0] += threading.get_ident() == me
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        build()
    finally:
        del client.send_command
    return sent[0]


@pytest.mark.parametrize(
    "name, commands",
    [("pipeline_clean_corpus", 1400), ("bm25_join", 1100)],
)
def test_construction_round_trips(spark, corpus_dir, name, commands):
    # with call-site capture on, every Column and function call also
    # reads the active session and a conf and sets and clears the
    # JVM-side origin: 1,927 and 1,418 commands here (1,066 and 838
    # without it and with the one-pass LSH buckets)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    QUERIES[name](spark, corpus_dir)
    sent = _py4j_commands(spark, lambda: QUERIES[name](spark, corpus_dir))
    assert sent <= commands


def test_spread_small_input_decides_from_the_plan(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    keep = dedup.exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    # an adaptive input: its partition count after the join's shuffle
    # exists only once the shuffle ran
    joined = docs.join(keep, "doc_id")
    out, jobs = _jobs(spark, lambda: dedup.spread_small_input(joined))
    assert jobs == 0
    # one file wide, so it is spread over the cores
    assert out is not joined
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # a cached input is as wide as the plan it caches, known before
    # it ran
    cached = docs.repartition(2).cache()
    try:
        out, jobs = _jobs(spark, lambda: dedup.spread_small_input(cached))
        assert jobs == 0 and out is not cached
    finally:
        cached.unpersist()


def _write_longs(path, n_rows: int, row_groups: int) -> str:
    """A parquet file of ``n_rows`` uncompressed longs (8 bytes each) in
    ``row_groups`` row groups."""
    table = pa.table({"v": pa.array(range(n_rows), pa.int64())})
    pq.write_table(
        table, str(path), row_group_size=n_rows // row_groups,
        compression="none", use_dictionary=False,
    )
    return str(path)


def _tasks_with_rows(df) -> int:
    return df.select(F.spark_partition_id().alias("p")).distinct().count()


def test_few_mb_file_scans_by_row_group(spark, tmp_path):
    # 3.1 MB in 3 row groups: under Spark's 4 MiB open-cost floor the
    # whole file was one split, one task
    path = _write_longs(tmp_path / "three.parquet", 3 * 131072, 3)
    assert _tasks_with_rows(spark.read.parquet(path)) == 3


def test_planned_partitions_count_only_splits_with_rows(spark, tmp_path):
    # one row group over at least parallelism splits: one split reads
    # it, the others read only the footer
    path = _write_longs(tmp_path / "one.parquet", 262144, 1)
    target = spark.sparkContext.defaultParallelism
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(os.path.getsize(path) // (target + 1)))
    try:
        df = spark.read.parquet(path)
        assert df.rdd.getNumPartitions() >= target
        assert dedup._planned_partitions(df) == 1
        assert _tasks_with_rows(df) == 1
        out, jobs = _jobs(spark, lambda: dedup.spread_small_input(df))
    finally:
        spark.conf.set(key, old)
    assert jobs == 0
    assert out is not df
    assert out.rdd.getNumPartitions() == target


def _lambda_bodies(plan: str) -> list[str]:
    """The text of every ``lambdafunction(...)`` in a plan string."""
    out, start = [], 0
    while (i := plan.find("lambdafunction(", start)) >= 0:
        depth, j = 0, i + len("lambdafunction")
        while True:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
            if depth == 0:
                break
        out.append(plan[i:j])
        start = i + 1
    return out


_NGRAM_BUILDERS = {
    "shingles": lambda d: d.select("doc_id", dedup.shingles("text").alias("sh")),
    "positioned_windows": lambda d: dedup._positioned_windows(d, "text", "doc_id", 8),
    "repetition_score": lambda d: text.repetition_score(d, top_ns=(2,)),
    "chunk_documents": lambda d: packing.chunk_documents(d, 16, overlap=4),
}


@pytest.mark.parametrize("builder", sorted(_NGRAM_BUILDERS))
def test_ngram_builders_tokenize_once_per_row(spark, sf_dir, builder):
    df = _NGRAM_BUILDERS[builder](load_table(spark, "documents", sf_dir))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # lambdas run interpreted, with no common-subexpression
    # elimination: a tokenizer in a lambda body runs once per element
    assert plan.count("split(") == 1
    bodies = _lambda_bodies(plan)
    assert bodies and not any("split(" in b for b in bodies)


def test_quality_score_tokenizes_once_under_a_filter(spark, sf_dir):
    # pipeline_clean_corpus's filter: pushed through a projection by
    # inlining it, it put the split 4 times in the filter and 4 more in
    # the projection
    scored = text.quality_score(load_table(spark, "documents", sf_dir))
    kept = scored.filter((F.col("quality") >= 60) & (F.col("n_tokens") >= 30))
    plan = kept._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1
