"""ANN recall floors — the quality half of the approximate-similarity
contract (determinism and plan shape are pinned elsewhere; without a
recall floor a "fast" ANN could silently return junk).

Two geometries, because recall is a property of the DATA as much as
the algorithm (full curves: tools/ann_recall.py; PARITY.md "ANN
recall"):

* clustered vectors (tight clusters around topic directions — what
  real embedding corpora look like): the shipped scale paths must
  reach recall@10 >= 0.9;
* the driver testdata's isotropic vectors (mean pairwise cos ~ 0):
  recall ~= scanned fraction is the information-theoretic ceiling for
  ANY sublinear method — sign-LSH collision probability for a
  cos-0.3 "neighbor" is (1 - theta/pi)^8 ~= 1.6%/bucket — so the
  floors pinned there are regression floors for the measured values,
  not quality targets.
"""

from __future__ import annotations

import pytest

from spark_sorted_spark.functions.similarity import (
    ann_ivf_topk,
    ann_lsh_topk,
    cosine_topk,
)


def _clustered(spark, n_clusters=16, per_cluster=40, dim=64, sigma=0.05):
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.randn(n_clusters, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    X = np.repeat(centers, per_cluster, axis=0) + sigma * rng.randn(
        n_clusters * per_cluster, dim
    )
    rows = [(int(i), [float(x) for x in X[i]]) for i in range(len(X))]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def _recall(emb, queries, ann_fn, k=10):
    total = 0.0
    for qvec in queries:
        exact = {r.vec_id for r in cosine_topk(emb, qvec, k=k).collect()}
        got = {r.vec_id for r in ann_fn(qvec).collect()}
        total += len(got & exact) / k
    return total / len(queries)


def test_clustered_recall_floors(spark):
    emb = _clustered(spark).persist()
    # one query per 4th cluster (8 queries), deterministic
    queries = [
        list(r.embedding)
        for r in emb.filter("vec_id % 160 = 3").orderBy("vec_id").collect()
    ]
    assert len(queries) == 4
    ivf = _recall(
        emb, queries, lambda q: ann_ivf_topk(emb, q, k=10, lloyd_iters=2)
    )
    assert ivf >= 0.9, f"IVF recall@10 on clustered data fell to {ivf}"
    lsh = _recall(
        emb,
        queries,
        lambda q: ann_lsh_topk(emb, q, k=10, probe_bits=6, probe_hamming=2),
    )
    assert lsh >= 0.9, f"LSH recall@10 on clustered data fell to {lsh}"
    emb.unpersist()


def test_isotropic_regression_floors(spark, sf_dir):
    # driver embeddings are isotropic: these floors pin the MEASURED
    # values (tools/ann_recall.py table in PARITY.md) with margin, so
    # a bucketing/probing regression is caught; they are not quality
    # targets (recall ~= scanned fraction on this geometry)
    from spark_sorted_spark.sources.tpch import load_table

    emb = load_table(spark, "embeddings", sf_dir).persist()
    queries = [
        list(r.embedding) for r in emb.orderBy("vec_id").limit(4).collect()
    ]
    ivf = _recall(emb, queries, lambda q: ann_ivf_topk(emb, q, k=10, nprobe=8))
    assert ivf >= 0.5, f"IVF nprobe=8 isotropic recall regressed to {ivf}"
    deep = _recall(
        emb,
        queries,
        lambda q: ann_lsh_topk(emb, q, k=10, probe_bits=6, probe_hamming=2),
    )
    shallow = _recall(
        emb, queries, lambda q: ann_lsh_topk(emb, q, k=10, probe_bits=0)
    )
    assert deep >= shallow, (deep, shallow)
    emb.unpersist()


def test_multiprobe_hamming_contract():
    from spark_sorted_spark.functions.similarity import (
        _hyperplane,
        _multiprobe_buckets,
    )

    q = [float(i % 5 - 2) for i in range(64)]
    planes = [_hyperplane(p, 64) for p in range(8)]
    h1 = _multiprobe_buckets(q, planes, 4, probe_hamming=1)
    h2 = _multiprobe_buckets(q, planes, 4, probe_hamming=2)
    # hamming-2 probes strictly extend the hamming-1 set: 1 + m singles
    # + C(m,2) pairs, all distinct buckets
    assert set(h1) <= set(h2)
    assert len(h1) == 5 and len(h2) == 5 + 6
    assert len(set(h2)) == len(h2)
    with pytest.raises(ValueError, match="probe_hamming"):
        _multiprobe_buckets(q, planes, 4, probe_hamming=3)


def test_pq_trained_rerank_recall_floor(spark):
    """PQ contract on clustered data: trained codewords sit on cluster
    centers, so ADC alone ranks CLUSTERS (same-cluster members share a
    code — recall@10 ~ k/cluster_size by construction, NOT a bug);
    the shipped pattern is ADC-screen + exact rerank with R >= the
    tie-set size, which must clear the same 0.9 floor as LSH/IVF.
    Measured 1.000 at these settings (tools/ann_recall.py)."""
    from pyspark.sql import functions as F

    from spark_sorted_spark.functions.similarity import (
        ann_pq_topk,
        pq_codebooks,
    )

    emb = _clustered(spark).persist()  # 16 clusters x 40
    queries = [
        list(r.embedding)
        for r in emb.filter("vec_id % 160 = 3").orderBy("vec_id").collect()
    ]
    cbs = pq_codebooks(emb, lloyd_iters=3)

    def pq_rerank(q, R=60):  # R > cluster size 40 = the tie set
        cand = [
            r.vec_id for r in ann_pq_topk(emb, q, k=R, codebooks=cbs).collect()
        ]
        return cosine_topk(emb.filter(F.col("vec_id").isin(cand)), q, k=10)

    rec = _recall(emb, queries, pq_rerank)
    assert rec >= 0.9, f"trained-PQ rerank recall@10 fell to {rec}"
    emb.unpersist()


def test_ivfpq_trained_rerank_recall_floor(spark, tmp_path):
    """IVF-PQ contract on clustered data: trained centroids put each
    cluster in its own cell(s); nprobe=4 cell pruning keeps the
    query's cluster; residual-ADC + exact rerank (R >= the tie set)
    must clear the same 0.9 floor — now with BOTH pruning layers on."""
    from spark_sorted_spark.functions.similarity import (
        ann_ivfpq_topk_indexed,
        build_ann_ivfpq_index,
    )

    emb = _clustered(spark).persist()
    queries = [
        list(r.embedding)
        for r in emb.filter("vec_id % 160 = 3").orderBy("vec_id").collect()
    ]
    path = str(tmp_path / "ivfpq_recall")
    build_ann_ivfpq_index(emb, path, lloyd_iters=2, pq_lloyd_iters=2)

    rec = _recall(
        emb,
        queries,
        lambda q: ann_ivfpq_topk_indexed(
            spark, path, q, k=10, nprobe=4, rerank=60
        ),
    )
    assert rec >= 0.9, f"trained IVF-PQ rerank recall@10 fell to {rec}"
    emb.unpersist()


def test_ivfpq_default_build_recall_floor(spark, tmp_path):
    """IVF-PQ with the DEFAULT build (seeded cells and codebooks, no
    training) on clustered data, ADC-screen + exact rerank of R=30:
    measured 0.8125 over one query per cluster. Codebooks seeded from
    centroid seeds' residuals were all zero, so ADC ranked by the
    cell's centroid dot alone and the rerank saw an arbitrary slice of
    the cell (0.5875)."""
    from spark_sorted_spark.functions.similarity import (
        ann_ivfpq_topk_indexed,
        build_ann_ivfpq_index,
    )

    emb = _clustered(spark).persist()  # 16 clusters x 40
    queries = [
        list(r.embedding)
        for r in emb.filter("vec_id % 40 = 3").orderBy("vec_id").collect()
    ]
    assert len(queries) == 16
    path = str(tmp_path / "ivfpq_default")
    build_ann_ivfpq_index(emb, path)
    rec = _recall(
        emb,
        queries,
        lambda q: ann_ivfpq_topk_indexed(
            spark, path, q, k=10, nprobe=4, rerank=30
        ),
    )
    assert rec >= 0.7, f"default IVF-PQ rerank recall@10 fell to {rec}"
    emb.unpersist()


def test_ivfsq8_default_build_recall_floor(spark, tmp_path):
    """IVF-SQ8 with the DEFAULT build (seeded cells, per-vector int8
    codes) on clustered data, ranked by the reconstructed cosine with
    no rerank: measured 0.96875 over one query per cluster at
    nprobe=4."""
    from spark_sorted_spark.functions.similarity import (
        ann_ivfsq8_topk_indexed,
        build_ann_ivfsq8_index,
    )

    emb = _clustered(spark).persist()  # 16 clusters x 40
    queries = [
        list(r.embedding)
        for r in emb.filter("vec_id % 40 = 3").orderBy("vec_id").collect()
    ]
    assert len(queries) == 16
    path = str(tmp_path / "ivfsq8_default")
    build_ann_ivfsq8_index(emb, path)
    rec = _recall(
        emb,
        queries,
        lambda q: ann_ivfsq8_topk_indexed(spark, path, q, k=10, nprobe=4),
    )
    assert rec >= 0.85, f"default IVF-SQ8 recall@10 fell to {rec}"
    emb.unpersist()
