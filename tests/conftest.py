import glob
import os
import shlex
import shutil
import subprocess
import warnings

import pytest

from spark_sorted_spark.session import get_spark


def _nio_chmod_fs_args(out_dir) -> str | None:
    """spark-submit arguments that swap in
    ``localfs/NioChmodLocalFileSystem`` (FileSystem writes) and
    ``localfs/NioChmodFs`` (FileContext writes: streaming checkpoints)
    for ``file:`` paths, compiled into ``out_dir``: without Hadoop's
    native library every file and directory a write creates starts a
    ``chmod`` process (~8 ms each on a 4-core host, several thousand
    per minute of this suite). None when there is no ``javac`` or
    Hadoop jar to compile against, or the build fails."""
    import pyspark

    jars = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")
    )
    srcs = sorted(glob.glob(os.path.join(os.path.dirname(__file__), "localfs", "*.java")))
    if not jars or shutil.which("javac") is None:
        return None
    built = subprocess.run(
        ["javac", "-nowarn", "-cp", jars[0], "-d", str(out_dir), *srcs],
        capture_output=True,
    )
    if built.returncode != 0:
        return None
    return (
        f"--driver-class-path {shlex.quote(str(out_dir))} "
        "--conf spark.hadoop.fs.file.impl=localfs.NioChmodLocalFileSystem "
        "--conf spark.hadoop.fs.AbstractFileSystem.file.impl=localfs.NioChmodFs"
    )


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # The local file system is a launch-time setting: hand it to the JVM
    # through the arguments pyspark passes to spark-submit, for this
    # launch only (child processes start their own JVMs unchanged).
    fs_args = _nio_chmod_fs_args(tmp_path_factory.mktemp("localfs"))
    if fs_args is None:
        warnings.warn(
            "tests run on Hadoop's default local file system (no javac or "
            "hadoop-client-api jar to build tests/localfs): every file a "
            "write creates forks a chmod process, and the suite runs slower"
        )
    with pytest.MonkeyPatch.context() as env:
        submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
        env.setenv("PYSPARK_SUBMIT_ARGS", f"{fs_args or ''} {submit}")
        # Mirrors the reference's shared test session (SparkSuite.scala:10-19):
        # small local master, few shuffle partitions so multi-partition
        # invariants (key disjointness) are actually exercised.
        s = get_spark("spark_sorted_spark-tests", master="local[4]", shuffle_partitions=4)
    # list partitioned directories on the driver: past 32 subdirectories
    # (an LSH index has one per bucket) Spark otherwise lists them with a
    # distributed job of one task per directory on every read, which on
    # these tiny stores costs more than the work under test
    s.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def query_schema(spark, sf_dir):
    """``query_schema(name)``: the schema of registered query ``name``
    over ``sf_dir``, constructed once per session — the schema audits
    (gate shape, oracle types) read nothing else, so they share one
    construction of each query."""
    from spark_sorted_spark import queries as q

    schemas = {}

    def get(name: str):
        if name not in schemas:
            schemas[name] = q.QUERIES[name](spark, sf_dir).schema
        return schemas[name]

    return get


@pytest.fixture(scope="session")
def ro_store(spark, sf_dir, tmp_path_factory):
    """Read-only stores over the ``sf_dir`` tables, each built once per
    session on first use: probes never mutate a store, so the tests
    that only probe share one build. A test that appends to, compacts
    or rebuilds a store builds its own."""
    from pyspark.sql import functions as F

    from spark_sorted_spark.functions.dedup import build_minhash_band_store
    from spark_sorted_spark.functions.retrieval import build_bm25_index
    from spark_sorted_spark.functions.similarity import (
        build_ann_ivf_index,
        build_ann_ivfpq_index,
        build_ann_ivfsq8_index,
        build_ann_lsh_index,
        build_ann_pq_index,
    )
    from spark_sorted_spark.sources.tpch import load_table

    docs = load_table(spark, "documents", sf_dir)
    vecs = load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") != 0)
    vecs = vecs.select("vec_id", "embedding")
    # the odd half of the corpus: the base the append/compact tests
    # grow with the even half (copied per test with ``store_copy``)
    half = vecs.filter(F.col("vec_id") % 2 == 1)
    half_docs = docs.filter(F.col("doc_id") % 2 == 1)
    # and the base third the streaming-maintainer tests drain into
    third = vecs.filter(F.col("vec_id") % 3 == 0)
    builders = {
        "bm25": lambda p: build_bm25_index(docs, p),
        "bm25_source": lambda p: build_bm25_index(docs, p, extra_cols=("source",)),
        "lsh": lambda p: build_ann_lsh_index(vecs, p),
        "ivf": lambda p: build_ann_ivf_index(vecs, p),
        "pq": lambda p: build_ann_pq_index(vecs, p),
        "ivfpq": lambda p: build_ann_ivfpq_index(vecs, p),
        "sq8": lambda p: build_ann_ivfsq8_index(vecs, p),
        "bands": lambda p: build_minhash_band_store(
            docs.filter(F.col("doc_id") % 4 != 0), p
        ),
        "bands_empty": lambda p: build_minhash_band_store(
            spark.createDataFrame([], docs.schema), p
        ),
        "bm25_half": lambda p: build_bm25_index(half_docs, p),
        "lsh_half": lambda p: build_ann_lsh_index(half, p),
        "ivf_half": lambda p: build_ann_ivf_index(half, p),
        "pq_half": lambda p: build_ann_pq_index(half, p),
        "ivfpq_half": lambda p: build_ann_ivfpq_index(half, p),
        "ivfpq_half_manifest": lambda p: build_ann_ivfpq_index(
            half, p, commit="manifest"
        ),
        "sq8_half": lambda p: build_ann_ivfsq8_index(half, p),
        "ivf_third": lambda p: build_ann_ivf_index(third, p),
        "ivfpq_third": lambda p: build_ann_ivfpq_index(third, p),
    }
    root = tmp_path_factory.mktemp("ro_stores")
    built = {}

    def get(kind: str) -> str:
        if kind not in built:
            builders[kind](str(root / kind))
            built[kind] = str(root / kind)
        return built[kind]

    return get


@pytest.fixture
def store_copy(ro_store, tmp_path):
    """``store_copy(kind, dst)``: a private byte copy of the shared
    ``ro_store(kind)`` build at ``dst`` (relative to ``tmp_path``), for
    a test that appends to, compacts or rebuilds its store — a copy,
    not a second build of the same store."""
    import shutil

    def copy(kind: str, dst) -> str:
        dst = str(tmp_path / dst)
        shutil.copytree(ro_store(kind), dst)
        return dst

    return copy


def plan_of(df, mode: str = "formatted") -> str:
    """Physical-plan string for assertions. NB: "formatted" prints each
    node twice (tree + detail) — use mode="simple" when counting node
    occurrences. Single wrapper over the private PySpark surface so a
    PySpark upgrade breaks one call site, not one per test file."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )
