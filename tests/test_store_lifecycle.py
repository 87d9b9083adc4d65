"""The store-lifecycle crash matrix (``sources/manifest.py``): every
persisted-store family, on both publish layouts, survives a failed
rebuild and a failed compaction — whether the failure hits inside the
write, at the publish step or half-way through the manifest layout's
pointer write — with its store byte-identical, still answering its
read and still carrying its ``_ingest_stream`` marker.
A build over a directory that is not a store raises and leaves it
untouched. Inputs are at most 8 rows."""

import hashlib
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from spark_sorted_spark.functions import dedup, retrieval, similarity
from spark_sorted_spark.sources import manifest
from spark_sorted_spark.sources.manifest import resolve_root
from spark_sorted_spark.streaming import ingest
from spark_sorted_spark.streaming.ingest import _read_text, _write_text
from spark_sorted_spark.streaming.sketches import (
    compact_sketch_store,
    read_hll_registers,
)

DIM = 4
TEXTS = [
    "spark join shuffle sort spark join",
    "join window merge join window",
    "filter scan spark filter scan",
    "sort merge join spark sort merge",
    "window stream state window stream",
    "spark stream join spark stream",
    "merge sort filter merge sort",
    "scan join window scan join",
]
MARKER = '{"id": "matrix-stream", "base": 0}'
BOOM = "injected write failure"


def _vecs(spark, ids):
    rows = [
        (i, [float((i * (j + 3)) % 7) - 3.0 + 0.25 * j for j in range(DIM)])
        for i in ids
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, TEXTS[i - 1]) for i in ids], "doc_id long, text string"
    )


def _poisoned(df, id_col, how):
    """``df`` with a row that raises when the write evaluates it:
    ``how`` names the column the build reads only while writing."""
    boom = F.raise_error(F.lit(BOOM))
    hit = F.col(id_col) == 8
    if how == "id":
        return df.withColumn(id_col, F.when(hit, boom).otherwise(F.col(id_col)))
    if how == "text":
        return df.withColumn("text", F.when(hit, boom).otherwise(F.col("text")))
    return df.withColumn("tag", F.when(hit, boom).otherwise(F.lit("t")))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _ann(build, poison="extra", table="", **kw):
    return dict(
        data=_vecs, id_col="vec_id", build=build,
        compact=similarity.compact_ann_index, table=table, build_kw=kw,
        poison=poison,
    )


FAMILIES = {
    "lsh": _ann(similarity.build_ann_lsh_index, poison="id", n_planes=2, dim=DIM),
    "ivf": _ann(similarity.build_ann_ivf_index, nlist=2),
    "pq": _ann(similarity.build_ann_pq_index, table="/codes", m=2, ksub=2, dim=DIM),
    "ivfpq": _ann(
        similarity.build_ann_ivfpq_index, nlist=2, m=2, ksub=2, dim=DIM
    ),
    "ivfsq8": _ann(similarity.build_ann_ivfsq8_index, nlist=2, dim=DIM),
    "bm25": dict(
        data=_docs, id_col="doc_id", build=retrieval.build_bm25_index,
        compact=retrieval.compact_bm25_index, table="/postings",
        build_kw=dict(n_buckets=2), marker_sub="/postings",
    ),
    "bands": dict(
        data=_docs, id_col="doc_id", build=dedup.build_minhash_band_store,
        compact=dedup.compact_minhash_band_store, table="/bands",
        build_kw={}, poison="text",
    ),
    "gram": dict(
        data=_docs, id_col="doc_id", build=dedup.build_gram_store,
        compact=dedup.compact_gram_store, table="/grams",
        build_kw=dict(min_len=2), marker_sub="/grams", poison="text",
    ),
}


def _snapshot(path):
    """Every file of a store directory with its content hash."""
    out = {}
    for d, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(d, name)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = hashlib.sha1(fh.read()).hexdigest()
    return out


def _state(spark, path):
    cur = resolve_root(spark, path)
    return cur, _snapshot(cur)


def _poison_reads(monkeypatch):
    """Every parquet read raises once its rows are evaluated — the
    compaction's first write fails mid-job."""
    real = DataFrameReader.parquet

    def poisoned(self, *paths, **kw):
        return real(self, *paths, **kw).filter(F.raise_error(F.lit(BOOM)).isNull())

    monkeypatch.setattr(DataFrameReader, "parquet", poisoned)


def _fail_publish(monkeypatch):
    def boom(*_a, **_k):
        raise RuntimeError("injected publish failure")

    monkeypatch.setattr(manifest, "_swap_in", boom)
    monkeypatch.setattr(manifest, "commit_generation", boom)


def _tear_pointer(monkeypatch):
    """The ``_current`` pointer's write dies half-way: a crash in the
    commit itself."""
    real = manifest._fs

    class TornStream:
        def __init__(self, stream):
            self.stream = stream

        def write(self, data):
            self.stream.write(data[: len(data) // 2])
            raise RuntimeError("injected torn pointer write")

        def close(self):
            self.stream.close()

    class TearingFs:
        def __init__(self, fs):
            self.fs = fs

        def __getattr__(self, name):
            return getattr(self.fs, name)

        def create(self, path, *args):
            stream = self.fs.create(path, *args)
            if manifest._POINTER in path.getName():
                return TornStream(stream)
            return stream

    def tearing(spark, path):
        fs, hpath = real(spark, path)
        return TearingFs(fs), hpath

    monkeypatch.setattr(manifest, "_fs", tearing)


def _survives(spark, path, op, inject, monkeypatch, marker_path):
    """Run ``op`` with ``inject`` applied: it must raise, and leave the
    live store byte-identical with its marker in place."""
    before = _state(spark, path)
    with monkeypatch.context() as m:
        inject(m)
        with pytest.raises(Exception, match="injected"):
            op()
    assert _state(spark, path) == before
    assert _read_text(spark, f"{resolve_root(spark, path)}{marker_path}") == MARKER


@pytest.mark.parametrize("layout", ["rename", "manifest"])
@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_store_survives_failed_rebuild_and_compaction(
    spark, tmp_path, monkeypatch, family, layout
):
    fam = FAMILIES[family]
    path = str(tmp_path / "store")
    kw = fam["build_kw"]
    fam["build"](fam["data"](spark, range(1, 8)), path, commit=layout, **kw)
    marker_path = f"{fam.get('marker_sub', '')}/_ingest_stream"
    _write_text(spark, f"{resolve_root(spark, path)}{marker_path}", MARKER)
    # the store's read: its main data table, every row
    read = lambda: _rows(  # noqa: E731
        spark.read.parquet(f"{resolve_root(spark, path)}{fam['table']}")
    )
    want = read()
    assert want

    poison = fam.get("poison", "extra")
    bad_input = _poisoned(fam["data"](spark, range(1, 9)), fam["id_col"], poison)
    extra = {"extra_cols": ("tag",)} if poison == "extra" else {}
    good_input = fam["data"](spark, range(1, 9))

    def rebuild(df, **more):
        return lambda: fam["build"](df, path, commit=layout, **kw, **more)

    compact = lambda: fam["compact"](spark, path)  # noqa: E731
    matrix = [
        (rebuild(bad_input, **extra), lambda m: None),
        (rebuild(good_input), _fail_publish),
        (compact, _poison_reads),
        (compact, _fail_publish),
    ]
    if layout == "manifest":
        matrix.append((rebuild(good_input), _tear_pointer))
    for op, inject in matrix:
        _survives(spark, path, op, inject, monkeypatch, marker_path)
    assert read() == want
    assert (resolve_root(spark, path) == path) == (layout == "rename")
    if layout == "rename":
        # the rename publish replaces the directory whole, so the
        # compaction must carry the marker into the staged store; the
        # trailing slash must still stage beside the store, not in it
        fam["compact"](spark, path + "/")
        assert _read_text(spark, f"{path}{marker_path}") == MARKER
        assert read() == want
        assert sorted(os.listdir(tmp_path)) == ["store"]
        leftovers = [n for n in os.listdir(path) if n.endswith((".building", ".old"))]
        assert not leftovers

    # a build over a directory that is not a store writes nothing
    foreign = tmp_path / "not_a_store"
    (foreign / "sub").mkdir(parents=True)
    (foreign / "notes.txt").write_text("keep me")
    (foreign / "sub" / "data.csv").write_text("a,b\n1,2\n")
    before = _snapshot(str(foreign))
    with pytest.raises(ValueError, match="not empty and holds no store"):
        fam["build"](good_input, str(foreign), commit=layout, **kw)
    assert _snapshot(str(foreign)) == before
    assert not os.path.exists(f"{foreign}.building")
    assert not os.path.exists(f"{foreign}/gen-0")

    # nor does a build aimed one level too high, at the directory that
    # holds this store and a sibling corpus: a store one level down is
    # not a store here, and replacing the parent would take them along
    corpus = tmp_path / "corpus" / "ingest_batch_id=0"
    corpus.mkdir(parents=True)
    (corpus / "part-0.parquet").write_bytes(b"corpus rows")
    before = _snapshot(str(tmp_path))
    with pytest.raises(ValueError, match="not empty and holds no store"):
        fam["build"](good_input, str(tmp_path), commit=layout, **kw)
    assert _snapshot(str(tmp_path)) == before
    assert not os.path.exists(f"{tmp_path}.building")


def _corpus(spark, path, layout):
    _docs(spark, range(1, 5)).write.parquet(f"{path}/ingest_batch_id=0")
    _docs(spark, [5, 6]).write.parquet(f"{path}/ingest_batch_id=1")
    _write_text(spark, f"{path}/_ingest_stream", MARKER)
    if layout == "manifest":
        ingest.compact_corpus(spark, path, commit="manifest")
    _docs(spark, [7, 8]).write.parquet(f"{resolve_root(spark, path)}/ingest_batch_id=2")


def _sketch_store(spark, path, layout):
    from spark_sorted_spark.functions.sketches import hll_register_table

    for b, ids in enumerate((range(1, 5), range(5, 9))):
        hll_register_table(_docs(spark, ids), "text", b=4).write.parquet(
            f"{path}/ingest_batch_id={b}"
        )
    _write_text(spark, f"{path}/_ingest_stream", MARKER)


@pytest.mark.parametrize(
    "family,layout",
    [("corpus", "rename"), ("corpus", "manifest"), ("sketch", "rename")],
)
def test_compaction_only_stores_survive_failed_compaction(
    spark, tmp_path, monkeypatch, family, layout
):
    """The ingest corpus and the sketch stores have no build: only
    their compaction runs through the staged publish."""
    path = str(tmp_path / "store")
    if family == "corpus":
        _corpus(spark, path, layout)
        compact = lambda: ingest.compact_corpus(spark, path)  # noqa: E731
        read = lambda: _rows(  # noqa: E731
            spark.read.parquet(resolve_root(spark, path)).drop("ingest_batch_id")
        )
    else:
        _sketch_store(spark, path, layout)
        compact = lambda: compact_sketch_store(spark, path, "hll")  # noqa: E731
        read = lambda: _rows(read_hll_registers(spark, path))  # noqa: E731
    want = read()
    for inject in (_poison_reads, _fail_publish):
        _survives(spark, path, compact, inject, monkeypatch, "/_ingest_stream")
    assert read() == want
