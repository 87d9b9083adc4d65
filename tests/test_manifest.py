"""Manifest-committed store publish (sources/manifest.py) — the
object-store-safe alternative to rename-as-commit (VERDICT r8 item 5):
data lands in a fresh gen-{k} directory, the commit is one small
pointer PUT, readers resolve the pointer transparently."""

import os

import pytest
from pyspark.sql import functions as F

from spark_sorted_spark.sources.manifest import (
    begin_generation,
    commit_generation,
    resolve_root,
)
from spark_sorted_spark.sources.tpch import load_table

from conftest import plan_of  # noqa: F401


@pytest.fixture()
def emb(spark, sf_dir):
    return load_table(spark, "embeddings", sf_dir)


def test_manifest_protocol_round_trip(spark, tmp_path):
    root = str(tmp_path / "store")
    # no pointer yet: legacy resolution returns the root unchanged
    assert resolve_root(spark, root) == root

    g0 = begin_generation(spark, root)
    assert g0.endswith("/gen-0")
    spark.range(5).write.parquet(f"{g0}/data")
    # staged but uncommitted: readers still resolve the legacy root
    assert resolve_root(spark, root) == root
    commit_generation(spark, root, g0)
    assert resolve_root(spark, root) == g0

    # second generation: staged invisible until the pointer flips
    g1 = begin_generation(spark, root)
    assert g1.endswith("/gen-1")
    spark.range(9).write.parquet(f"{g1}/data")
    assert resolve_root(spark, root) == g0
    commit_generation(spark, root, g1)
    assert resolve_root(spark, root) == g1
    assert spark.read.parquet(f"{resolve_root(spark, root)}/data").count() == 9
    # default keep=1: the old generation was GC'd
    assert not os.path.exists(f"{root}/gen-0")

    # keep=2 retains the prior generation for long-running readers
    g2 = begin_generation(spark, root)
    spark.range(3).write.parquet(f"{g2}/data")
    commit_generation(spark, root, g2, keep=2)
    assert os.path.exists(f"{root}/gen-1")
    assert resolve_root(spark, root) == g2


def test_manifest_dangling_pointer_is_loud(spark, tmp_path):
    root = str(tmp_path / "store")
    g0 = begin_generation(spark, root)
    spark.range(2).write.parquet(f"{g0}/data")
    commit_generation(spark, root, g0)
    import shutil

    shutil.rmtree(g0)
    with pytest.raises(IOError, match="does not exist"):
        resolve_root(spark, root)


def test_commit_rejects_non_generation_dir(spark, tmp_path):
    with pytest.raises(ValueError, match="not a generation dir"):
        commit_generation(spark, str(tmp_path), str(tmp_path / "other"))


def test_ann_lsh_manifest_build_probe_append_rebuild(spark, emb, tmp_path, ro_store):
    """End-to-end store round trip under commit='manifest': build,
    probe (identical to the rename-layout probe), append a batch,
    rebuild FROM the index's own read (zero renames — the flow an
    object store must survive), with generations GC'd along the way."""
    from spark_sorted_spark.functions.similarity import (
        ann_lsh_topk_indexed,
        append_to_ann_lsh_index,
        build_ann_lsh_index,
    )

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    half_a = corpus.filter(F.col("vec_id") % 2 == 1)
    half_b = corpus.filter(F.col("vec_id") % 2 == 0)

    ref = ro_store("lsh")  # rename layout, the truth
    want = [
        (r.vec_id, r.rank)
        for r in ann_lsh_topk_indexed(spark, ref, qvec, k=5).collect()
    ]

    man = str(tmp_path / "man_idx")
    build_ann_lsh_index(half_a, man, commit="manifest")
    assert os.path.exists(f"{man}/_current")
    append_to_ann_lsh_index(half_b, man, batch_id=0)
    got = [
        (r.vec_id, r.rank)
        for r in ann_lsh_topk_indexed(spark, man, qvec, k=5).collect()
    ]
    assert got == want
    # probe plan still prunes on the bucket directories inside the gen
    probe = ann_lsh_topk_indexed(spark, man, qvec, k=5)
    plan = plan_of(probe, "formatted")
    assert "PartitionFilters" in plan and "bucket" in plan, plan

    # rebuild straight from the live index read — no rename anywhere:
    # the old generation stays intact until the pointer flips
    relaid = spark.read.parquet(resolve_root(spark, man)).select(
        "vec_id", "embedding"
    )
    build_ann_lsh_index(relaid, man, commit="manifest")
    assert resolve_root(spark, man).endswith("/gen-1")
    assert not os.path.exists(f"{man}/gen-0")  # GC'd post-commit
    assert spark.read.parquet(resolve_root(spark, man)).count() == corpus.count()
    got2 = [
        (r.vec_id, r.rank)
        for r in ann_lsh_topk_indexed(spark, man, qvec, k=5).collect()
    ]
    assert got2 == want


def test_ann_ivf_manifest_build_probe(spark, emb, tmp_path, ro_store):
    from spark_sorted_spark.functions.similarity import (
        ann_ivf_topk_indexed,
        build_ann_ivf_index,
    )

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")

    ref = ro_store("ivf")
    want = [
        (r.vec_id, r.rank)
        for r in ann_ivf_topk_indexed(spark, ref, qvec, k=5).collect()
    ]

    man = str(tmp_path / "man_ivf")
    build_ann_ivf_index(corpus, man, commit="manifest")
    got = [
        (r.vec_id, r.rank)
        for r in ann_ivf_topk_indexed(spark, man, qvec, k=5).collect()
    ]
    assert got == want

    with pytest.raises(ValueError, match="commit must be"):
        build_ann_ivf_index(corpus, man, commit="bogus")


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from spark_sorted_spark.sources.tpch import load_table

    return load_table(spark, "documents", sf_dir).select("doc_id", "text")


def test_band_store_manifest_build_dedup_append_compact(spark, docs, tmp_path):
    """Round-10 closure of the open item: the MinHash band store under
    commit='manifest' — build, dedup-against, append, COMPACT (new
    generation, zero renames), all answers identical to the rename
    layout."""
    from spark_sorted_spark.functions.dedup import (
        append_to_minhash_band_store,
        build_minhash_band_store,
        compact_minhash_band_store,
        dedup_against_store,
    )

    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)

    def pairs(store_path):
        return sorted(
            (r.doc_old, r.doc_new)
            for r in dedup_against_store(batch, store_path, corpus).collect()
        )

    ref = str(tmp_path / "ref_store")
    build_minhash_band_store(corpus, ref)
    want = pairs(ref)
    assert want  # the corpus contains planted near-dups at every sf

    man = str(tmp_path / "man_store")
    build_minhash_band_store(corpus, man, commit="manifest")
    assert os.path.exists(f"{man}/_current")
    assert pairs(man) == want

    # append mutates the current generation; the store then indexes
    # corpus + batch (batch vs itself: every batch doc self-pairs
    # through the store, so probe with a fresh subset instead)
    append_to_minhash_band_store(batch, man, batch_id=0)
    append_to_minhash_band_store(batch, ref, batch_id=0)
    probe = docs.filter(F.col("doc_id") % 7 == 1)
    corpus_all = corpus.unionByName(batch)

    def pairs2(store_path):
        return sorted(
            (r.doc_old, r.doc_new)
            for r in dedup_against_store(
                probe, store_path, corpus_all
            ).collect()
        )

    assert pairs2(man) == pairs2(ref)

    # compaction publishes a NEW generation (no renames), GC's gen-0,
    # and answers stay identical
    compact_minhash_band_store(spark, man)
    assert resolve_root(spark, man).endswith("/gen-1")
    assert not os.path.exists(f"{man}/gen-0")
    assert pairs2(man) == pairs2(ref)
    # compacted store is back to the single base partition
    import pathlib

    bands_dir = pathlib.Path(resolve_root(spark, man)) / "bands"
    parts = {p.name for p in bands_dir.iterdir() if p.is_dir()}
    assert parts == {"ingest_batch_id=-1"}


def test_gram_store_manifest_build_clean_append_compact(spark, docs, tmp_path):
    """Same closure for the ExactSubstr gram store: manifest build,
    clean-against, append, compact-to-new-generation — bitwise the
    rename layout's answers, with _gram_meta carried across
    generations."""
    from spark_sorted_spark.functions.dedup import (
        append_to_gram_store,
        build_gram_store,
        clean_against_gram_store,
        compact_gram_store,
    )

    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    b1 = docs.filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 300))
    probe = docs.filter(F.col("doc_id") % 7 == 1).limit(40)

    def snap(store_path):
        return sorted(
            (r.doc_id, r.n_tokens_kept, r.text_clean)
            for r in clean_against_gram_store(probe, store_path).collect()
        )

    ref = str(tmp_path / "ref_gram")
    build_gram_store(corpus, ref, min_len=8)
    man = str(tmp_path / "man_gram")
    build_gram_store(corpus, man, min_len=8, commit="manifest")
    assert os.path.exists(f"{man}/_current")
    want = snap(ref)
    assert snap(man) == want

    append_to_gram_store(b1, man, batch_id=0)
    append_to_gram_store(b1, ref, batch_id=0)
    assert snap(man) == snap(ref)

    # explicit-width mismatch still raises through the pointer
    with pytest.raises(ValueError, match="min_len"):
        append_to_gram_store(b1, man, min_len=9, batch_id=1)

    compact_gram_store(spark, man)
    assert resolve_root(spark, man).endswith("/gen-1")
    assert not os.path.exists(f"{man}/gen-0")
    assert snap(man) == snap(ref)
    # _gram_meta carried into the new generation: width still resolves
    append_to_gram_store(b1, man, batch_id=1)
    assert snap(man) == snap(ref)
