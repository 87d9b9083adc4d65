"""North-star operator tests: dedup recall/precision, similarity
recall, multimodal plumbing, text functions — on the sf0.001 driver
tables (fast) with semantic assertions the oracle harness can't make.
"""

import pytest
from pyspark.sql import functions as F

from spark_sorted_spark.functions.dedup import (
    exact_dedup,
    jaccard_prefix_join,
    jaccard_prefix_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash_pairs,
)
from spark_sorted_spark.functions.multimodal import (
    attach_binary_payload,
    decode_stub,
    extract_features,
)
from spark_sorted_spark.functions.similarity import (
    ann_lsh_topk,
    cosine_topk,
)
from spark_sorted_spark.functions.text import doc_fingerprint, language_id
from spark_sorted_spark.sources.tpch import load_table

from conftest import plan_of


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, "documents", sf_dir).cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, "embeddings", sf_dir).cache()


def test_exact_dedup_identifies_planted_copies(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
    )
    out = {r.keep_id: r.n_copies for r in exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_lsh_recall_vs_exact(docs):
    exact = {
        (r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs).collect()}
    # precision is 1.0 by construction (exact verification); recall of
    # 4-band/4-row at jaccard>=0.5 should be near-total on planted dups
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.9, (len(lsh), len(exact))


def test_ngram_jaccard_max_bucket_guard(spark):
    # Fan-out cap: a shingle shared by more than max_bucket docs must
    # not generate candidates (hot-shingle guard, mirroring
    # minhash_lsh_pairs); pairs reachable through a rare shingle stay
    # exact against the FULL shingle sets.
    hot = "common boilerplate header"
    rows = [(i, f"{hot} unique{i} a b") for i in range(5)]
    # docs 100/101 share a rare shingle path (near-identical text)
    rows += [(100, "rare shared trigram xyz one"), (101, "rare shared trigram xyz two")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # cap below the hot bucket size: the 5 boilerplate docs share ONLY
    # the hot shingle → no pairs among them; 100-101 still found
    # tau=1/7 admits the boilerplate pairs (jaccard 1/7: 1 common of 4+4
    # shingles) when uncapped, so the cap is what removes them
    got = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(df, max_bucket=4, tau_num=1, tau_den=7).collect()
    }
    assert got == {(100, 101)}
    # uncapped baseline finds the boilerplate pairs too
    all_pairs = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(
            df, max_bucket=None, tau_num=1, tau_den=7
        ).collect()
    }
    assert (100, 101) in all_pairs and len(all_pairs) > 1


def test_jaccard_prefix_is_lossless_vs_exhaustive(docs):
    # the headline guarantee: the prefix-filtered join returns EXACTLY
    # the exhaustive baseline's pairs (all five columns), at both the
    # default and a tighter threshold
    for tn, td in ((1, 2), (4, 5)):
        exp = sorted(
            tuple(r)
            for r in ngram_jaccard_pairs(
                docs, max_bucket=None, tau_num=tn, tau_den=td
            ).collect()
        )
        got = sorted(
            tuple(r)
            for r in jaccard_prefix_pairs(docs, tau_num=tn, tau_den=td).collect()
        )
        assert got == exp, (tn, td, len(got), len(exp))


def test_jaccard_prefix_finds_pair_with_hot_common_shingles(spark):
    # the max_bucket guard's blind spot: a qualifying pair whose EVERY
    # common shingle is hot is missed by ngram_jaccard_pairs(max_bucket)
    # but MUST be found by the lossless prefix join. 6 filler docs make
    # the shared shingles hot (bucket > 4); docs 100/101 are identical
    # 8-token texts (jaccard 1.0) built ONLY from those hot shingles.
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(100, dup), (101, dup)]
    rows += [(i, dup + f" filler{i}") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(df, max_bucket=4, tau_num=9, tau_den=10).collect()
    }
    assert (100, 101) not in capped  # the guard drops it — by design
    lossless = {
        (r.doc_a, r.doc_b)
        for r in jaccard_prefix_pairs(df, tau_num=9, tau_den=10).collect()
    }
    assert lossless == {(100, 101)}


def test_jaccard_prefix_join_is_lossless_vs_brute_force(docs):
    # cross-corpus twin: split the fixture corpus by parity, compare
    # against an in-test crossJoin brute force at a loose (1/5) and a
    # tight (4/5) threshold — exact pair set, all five columns
    left = docs.filter(F.col("doc_id") % 2 == 0)
    right = docs.filter(F.col("doc_id") % 2 == 1)
    sl = left.select(
        F.col("doc_id").alias("left_id"), shingles("text", 3).alias("sh_l")
    ).filter(F.size("sh_l") > 0)
    sr = right.select(
        F.col("doc_id").alias("right_id"), shingles("text", 3).alias("sh_r")
    ).filter(F.size("sh_r") > 0)
    for tn, td in ((1, 5), (4, 5)):
        exp = sorted(
            tuple(r)
            for r in sl.crossJoin(sr)
            .withColumn("n_common", F.size(F.array_intersect("sh_l", "sh_r")))
            .withColumn("n_left", F.size("sh_l"))
            .withColumn("n_right", F.size("sh_r"))
            .filter(
                F.lit(td) * F.col("n_common")
                >= F.lit(tn)
                * (F.col("n_left") + F.col("n_right") - F.col("n_common"))
            )
            .select("left_id", "right_id", "n_common", "n_left", "n_right")
            .collect()
        )
        got = sorted(
            tuple(r)
            for r in jaccard_prefix_join(
                left, right, tau_num=tn, tau_den=td
            ).collect()
        )
        assert got == exp, (tn, td, len(got), len(exp))
        assert exp, (tn, td)  # the fixture must actually exercise pairs


def test_jaccard_prefix_join_threshold_validation(docs):
    with pytest.raises(ValueError, match="tau_num"):
        jaccard_prefix_join(docs, docs, tau_num=0, tau_den=2)


def test_jaccard_prefix_threshold_validation(docs):
    with pytest.raises(ValueError, match="tau_num"):
        jaccard_prefix_pairs(docs, tau_num=0, tau_den=2)
    with pytest.raises(ValueError, match="tau_num"):
        jaccard_prefix_pairs(docs, tau_num=3, tau_den=2)


def test_simhash_ranks_planted_dups_closest(docs):
    pairs = simhash_pairs(docs, max_hamming=6).collect()
    exact = {
        (r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, tau_num=4, tau_den=5).collect()
    }
    got = {(r.doc_a, r.doc_b) for r in pairs}
    # very-high-jaccard planted dups should appear within hamming 6
    if exact:
        assert len(exact & got) / len(exact) >= 0.8


def test_ann_lsh_subset_of_bruteforce_order(emb):
    qvec = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    rest = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in cosine_topk(rest, qvec, k=20).collect()]
    approx = [r.vec_id for r in ann_lsh_topk(rest, qvec, k=5).collect()]
    # every ANN hit must be a real vector ranked by true cosine within
    # its bucket; sanity: no duplicates, deterministic output
    assert len(approx) == len(set(approx))
    approx2 = [r.vec_id for r in ann_lsh_topk(rest, qvec, k=5).collect()]
    assert approx == approx2
    assert len(exact) == 20


def test_multimodal_feature_shapes(docs):
    out = extract_features(attach_binary_payload(docs, "text"))
    rows = out.collect()
    assert len(rows) == docs.count()
    one = docs.filter(F.col("doc_id") == rows[0].doc_id).head()
    assert rows[0].n_bytes == len(one.text.encode())
    assert rows[0].byte_sum == sum(one.text.encode()) % (1 << 31)


def test_resize_images_deterministic_shape(spark, docs):
    from spark_sorted_spark.functions.multimodal import resize_images

    mm = attach_binary_payload(docs.limit(20), "text")
    out = resize_images(mm, 8, 4)
    rows = out.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(bytes(r.payload)) == 32  # width*height bytes exactly
        assert r.meta.modality == "image/8x4" and r.meta.n_bytes == 32
    # content-addressed determinism: rerun produces identical payloads
    again = {r[0]: bytes(r.payload) for r in resize_images(mm, 8, 4).collect()}
    assert {r[0]: bytes(r.payload) for r in rows} == again


def test_sample_frames_flatmap_shape(spark, docs):
    from spark_sorted_spark.functions.multimodal import sample_frames

    mm = attach_binary_payload(docs.limit(10), "text", modality="video")
    out = sample_frames(mm, 5)
    pdf = out.toPandas()
    # up to 5 frames per doc, indices 0..k-1, frames concatenate to a
    # prefix-partition of the source
    assert set(pdf.groupby("doc_id").size().unique()) <= {5}
    assert pdf.groupby("doc_id")["frame_idx"].min().eq(0).all()
    srcs = {r[0]: bytes(r.payload) for r in mm.collect()}
    for did, grp in pdf.sort_values(["doc_id", "frame_idx"]).groupby("doc_id"):
        joined = b"".join(bytes(f) for f in grp["frame"])
        assert joined == srcs[did]


def test_resize_and_frames_stub_paths_raise(spark, docs):
    # non-fake paths over UNDECODABLE payloads (text bytes, no image
    # magic) must fail loudly — resize_images' real path (round 7)
    # only accepts what decode() genuinely decodes
    from spark_sorted_spark.functions.multimodal import resize_images, sample_frames

    mm = attach_binary_payload(docs.limit(2), "text")
    with pytest.raises(Exception, match="NotImplementedError|decoder"):
        resize_images(mm, 4, 4, fake=False).collect()
    with pytest.raises(Exception, match="NotImplementedError|decoder"):
        sample_frames(mm, 3, fake=False).collect()


def test_decode_stub_raises(spark):
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    payload = attach_binary_payload(df, "text")
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        extract_features(payload, fake=False).collect()


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the hat"),
            (2, "der hund und die katze ist"),
            (3, "le chat et la maison des amis"),
            (4, "这 是 中文 文本"),
            (5, "xyzzy plugh"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.lang_pred for r in language_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "zh", 5: "und"}


def test_repetition_score_flags_boilerplate(spark):
    from spark_sorted_spark.functions.text import repetition_score

    df = spark.createDataFrame(
        [
            (1, "buy now " * 30),  # pure repetition
            (2, "the quick brown fox jumps over a lazy dog near the river bank"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: (r.dup_ngram_pct_2, r.dup_ngram_pct_3) for r in
           repetition_score(df).collect()}
    assert out[1][0] > 90 and out[1][1] > 90  # spam: almost all dup bigrams
    assert out[2][0] == 0 and out[2][1] == 0  # natural text: no dup n-grams
    # short doc (< n tokens): defined, zero
    short = spark.createDataFrame([(3, "one")], ["doc_id", "text"])
    r = repetition_score(short).collect()[0]
    assert (r.dup_ngram_pct_2, r.dup_ngram_pct_3) == (0, 0)


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha")], ["doc_id", "text"]
    )
    fp = {r.doc_id: r.fingerprint for r in doc_fingerprint(df).collect()}
    assert fp[1] != fp[2]  # bag-of-words collapses these; rolling hash doesn't


def test_ann_ivf_recall_and_determinism(spark, emb):
    from spark_sorted_spark.functions.similarity import ann_ivf_topk, cosine_topk

    qvec = [float(x) for x in emb.filter(emb.vec_id == 0).head()["embedding"]]
    rest = emb.filter(emb.vec_id != 0)
    exact = [r.vec_id for r in cosine_topk(rest, qvec, k=10).collect()]
    approx = [r.vec_id for r in ann_ivf_topk(rest, qvec, k=10, nlist=8, nprobe=4).collect()]
    # determinism
    approx2 = [r.vec_id for r in ann_ivf_topk(rest, qvec, k=10, nlist=8, nprobe=4).collect()]
    assert approx == approx2
    # probing half the cells: recall@10 should be decent on this data
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.4, (recall, exact, approx)
    # full probe == exact search
    full = [r.vec_id for r in ann_ivf_topk(rest, qvec, k=10, nlist=8, nprobe=8).collect()]
    assert full == exact


def test_embedding_neardup_lsh_recall(spark, emb):
    from spark_sorted_spark.functions.similarity import (
        cosine_neardup_pairs,
        cosine_neardup_pairs_lsh,
    )

    exact = {tuple(r) for r in cosine_neardup_pairs(emb, 0.4).collect()}
    approx = {tuple(r) for r in cosine_neardup_pairs_lsh(emb, 0.4).collect()}
    assert approx <= exact  # precision 1.0 by construction
    if exact:
        # 8 tables x 4 planes OR-construction: expected per-pair
        # collision ~1-(1-(1-θ/π)^4)^8 ≈ 0.8 at cos 0.45
        assert len(approx) / len(exact) >= 0.5, (len(approx), len(exact))


def test_simhash_banded_equals_bruteforce_at_k3(docs):
    from spark_sorted_spark.functions.dedup import simhash_pairs, simhash_pairs_banded

    brute = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    banded = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs_banded(docs, max_hamming=3, n_bands=4).collect()
    }
    assert banded == brute  # pigeonhole: k=3 < 4 bands -> exact

    import pytest as _pt

    with _pt.raises(ValueError, match="max_hamming < n_bands"):
        simhash_pairs_banded(docs, max_hamming=4, n_bands=4)


def test_ann_lsh_persisted_index_pruned_probe(spark, emb, ro_store):
    # Scale path: bucket assignment computed once + persisted; the
    # probe reads ONLY the query's bucket directory (PartitionFilters
    # on `bucket` at the scan) and returns the identical result to the
    # query-time form.
    from spark_sorted_spark.functions.similarity import ann_lsh_topk_indexed

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    base = emb.filter(F.col("vec_id") != 0)
    path = ro_store("lsh")

    probe = ann_lsh_topk_indexed(spark, path, qvec, k=5)
    plan = plan_of(probe, "formatted")
    assert "PartitionFilters" in plan and "bucket" in plan, plan
    got = [(r.vec_id, r.rank) for r in probe.collect()]
    exact_form = ann_lsh_topk(base, qvec, k=5)
    assert got == [(r.vec_id, r.rank) for r in exact_form.collect()]


def test_ann_lsh_index_incremental_append(spark, emb, ro_store, store_copy):
    # growing-corpus maintenance: build over half, append the rest —
    # probes must equal the full build; replaying the same batch_id
    # must be idempotent (a duplicated index row would surface as a
    # duplicate candidate and corrupt ranks); a fresh build must
    # clear stale append partitions
    from spark_sorted_spark.functions.similarity import (
        ann_lsh_topk_indexed,
        append_to_ann_lsh_index,
        build_ann_lsh_index,
    )

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    corpus = emb.filter(F.col("vec_id") != 0)
    half_a = corpus.filter(F.col("vec_id") % 2 == 1)
    half_b = corpus.filter(F.col("vec_id") % 2 == 0)

    full = ro_store("lsh")
    want = [(r.vec_id, r.rank) for r in ann_lsh_topk_indexed(spark, full, qvec, k=5).collect()]

    inc = store_copy("lsh_half", "inc_idx")
    append_to_ann_lsh_index(half_b, inc, batch_id=0)
    probe = ann_lsh_topk_indexed(spark, inc, qvec, k=5)
    plan = plan_of(probe, "formatted")
    assert "PartitionFilters" in plan and "bucket" in plan, plan
    assert [(r.vec_id, r.rank) for r in probe.collect()] == want

    # replay the same batch: identical result, no duplicate rows
    append_to_ann_lsh_index(half_b, inc, batch_id=0)
    again = ann_lsh_topk_indexed(spark, inc, qvec, k=5)
    assert [(r.vec_id, r.rank) for r in again.collect()] == want
    n_rows = spark.read.parquet(inc).count()
    assert n_rows == corpus.count()

    # a rebuild clears the append partitions (fresh-store contract)
    build_ann_lsh_index(half_a, inc)
    assert spark.read.parquet(inc).count() == half_a.count()
    # batch_id=None: plain at-least-once append into the base partition
    append_to_ann_lsh_index(half_b, inc)
    assert spark.read.parquet(inc).count() == corpus.count()


def test_ann_ivf_index_incremental_append(spark, emb, tmp_path, store_copy):
    # IVF twin of the LSH append: new batches assign to the PERSISTED
    # centroids, so the incremental index equals the full build only
    # when both use the same centroid set — build over half, append
    # the rest, compare against a probe of a full index built with
    # THOSE centroids... simplest exact check: full build over half_a
    # defines the centroids; the incremental index over (half_a +
    # half_b) must contain every vector exactly once and answer
    # probes from the union
    from spark_sorted_spark.functions.similarity import (
        ann_ivf_topk_indexed,
        append_to_ann_ivf_index,
    )

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    corpus = emb.filter(F.col("vec_id") != 0)
    half_a = corpus.filter(F.col("vec_id") % 2 == 1)
    half_b = corpus.filter(F.col("vec_id") % 2 == 0)

    inc = store_copy("ivf_half", "ivf_inc")
    append_to_ann_ivf_index(half_b, inc, batch_id=0)
    # replay idempotence
    append_to_ann_ivf_index(half_b, inc, batch_id=0)
    idx = spark.read.parquet(inc)
    assert idx.count() == corpus.count()
    assert idx.select("vec_id").distinct().count() == corpus.count()
    # probing with full nlist (exhaustive) equals brute-force top-5
    from spark_sorted_spark.functions.similarity import ANN_NLIST, cosine_topk

    got = ann_ivf_topk_indexed(spark, inc, qvec, k=5, nprobe=ANN_NLIST).collect()
    want = cosine_topk(corpus, qvec, k=5).collect()
    assert [(r.vec_id, r.rank) for r in got] == [(r.vec_id, r.rank) for r in want]
    # appending to a missing index fails loudly
    import pytest as _pytest

    with _pytest.raises(Exception, match="centroid|PATH_NOT_FOUND|Path does not exist"):
        append_to_ann_ivf_index(half_b, str(tmp_path / "nope"), batch_id=0)


def test_lsh_index_meta_prevents_plane_mismatch(spark, emb, tmp_path):
    # the index persists its construction (n_planes, dim); a probe or
    # append with mismatched planes would silently compute garbage
    # buckets — it must raise instead, and None must adopt the
    # recorded construction
    import pytest as _pytest

    from spark_sorted_spark.functions.similarity import (
        ann_lsh_topk_indexed,
        append_to_ann_lsh_index,
        build_ann_lsh_index,
        cosine_neardup_against_index,
    )

    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    path = str(tmp_path / "meta_idx")
    build_ann_lsh_index(corpus, path, n_planes=6)

    # None adopts the recorded 6-plane construction
    got = ann_lsh_topk_indexed(spark, path, qvec, k=3).collect()
    assert got  # non-empty: buckets computed with the right planes

    with _pytest.raises(ValueError, match="built with n_planes=6"):
        ann_lsh_topk_indexed(spark, path, qvec, k=3, n_planes=8)
    with _pytest.raises(ValueError, match="built with n_planes=6"):
        append_to_ann_lsh_index(corpus.limit(1), path, batch_id=0, n_planes=8)
    with _pytest.raises(ValueError, match="built with n_planes=6"):
        cosine_neardup_against_index(corpus.limit(1), path, 0.9, n_planes=8)
    # matching explicit value passes
    append_to_ann_lsh_index(
        corpus.limit(1).select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
        ),
        path,
        batch_id=0,
        n_planes=6,
    )


def test_cosine_neardup_against_index(spark, emb, tmp_path):
    # incremental embedding near-dup: batch vs persisted index. Exact
    # copies are always caught (identical vectors share identical sign
    # bits); every returned pair must satisfy the exact threshold
    # (precision 1.0); and the pair set is a subset of brute force
    from spark_sorted_spark.functions.similarity import (
        build_ann_lsh_index,
        cosine_neardup_against_index,
        dot_py,
    )

    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    indexed = corpus.filter(F.col("vec_id") % 2 == 1)
    fresh = corpus.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") <= 40))
    # plant exact copies of three indexed vectors under new ids
    copies = indexed.filter(F.col("vec_id").isin(1, 3, 5)).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    batch = fresh.unionByName(copies)

    path = str(tmp_path / "dedup_idx")
    build_ann_lsh_index(indexed, path)
    got = cosine_neardup_against_index(batch, path, 0.9).collect()
    pairs = {(r.doc_old, r.doc_new) for r in got}
    for vid in (1, 3, 5):
        assert (vid, vid + 1_000_000) in pairs, pairs

    # precision: recompute every returned cosine exactly
    import math

    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in indexed.unionByName(batch).collect()
    }

    def cos(a, b):
        return dot_py(a, b) / (
            math.sqrt(dot_py(a, a)) * math.sqrt(dot_py(b, b))
        )

    for r in got:
        assert cos(vecs[r.doc_old], vecs[r.doc_new]) >= 0.9
    # subset of brute force over (indexed x batch)
    brute = {
        (i, j)
        for i in vecs
        if i < 1_000_000 and i % 2 == 1
        for j in vecs
        if (j >= 1_000_000 or j % 2 == 0) and cos(vecs[i], vecs[j]) >= 0.9
    }
    assert pairs <= brute


def test_cosine_neardup_against_ivf_index(spark, emb, tmp_path):
    """IVF-index-backed incremental near-dup — one store serving both
    ANN and the nightly dedup: exact copies always found at nprobe=1
    (identical vectors share one argmax cell); every pair passes the
    exact threshold; full probe (nprobe=nlist) equals brute force;
    and the IVF-SQ8 layout answers IDENTICALLY to the raw-float IVF
    layout (both store cell + the raw vector column)."""
    import math

    from spark_sorted_spark.functions.similarity import (
        ANN_NLIST,
        build_ann_ivf_index,
        build_ann_ivfsq8_index,
        cosine_neardup_against_ivf_index,
        dot_py,
    )

    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    indexed = corpus.filter(F.col("vec_id") % 2 == 1)
    fresh = corpus.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") <= 40))
    copies = indexed.filter(F.col("vec_id").isin(1, 3, 5)).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    batch = fresh.unionByName(copies)

    path = str(tmp_path / "ivf_dedup_idx")
    build_ann_ivf_index(indexed, path)
    got = cosine_neardup_against_ivf_index(batch, path, 0.9, nprobe=1).collect()
    pairs = {(r.doc_old, r.doc_new) for r in got}
    for vid in (1, 3, 5):
        assert (vid, vid + 1_000_000) in pairs, pairs

    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in indexed.unionByName(batch).collect()
    }

    def cos(a, b):
        return dot_py(a, b) / (
            math.sqrt(dot_py(a, a)) * math.sqrt(dot_py(b, b))
        )

    for r in got:
        assert cos(vecs[r.doc_old], vecs[r.doc_new]) >= 0.9
    brute = {
        (i, j)
        for i in vecs
        if i < 1_000_000 and i % 2 == 1
        for j in vecs
        if (j >= 1_000_000 or j % 2 == 0) and cos(vecs[i], vecs[j]) >= 0.9
    }
    assert pairs <= brute
    # full probe == exact: probing every cell is brute force
    full = cosine_neardup_against_ivf_index(
        batch, path, 0.9, nprobe=ANN_NLIST
    ).collect()
    assert {(r.doc_old, r.doc_new) for r in full} == brute

    # the IVF-SQ8 layout answers identically (same cells, same raw
    # vector column for the exact verify)
    sq8_path = str(tmp_path / "sq8_dedup_idx")
    build_ann_ivfsq8_index(indexed, sq8_path)
    sq8 = cosine_neardup_against_ivf_index(
        batch, sq8_path, 0.9, nprobe=1
    ).collect()
    assert sorted((r.doc_old, r.doc_new, r.cos) for r in sq8) == sorted(
        (r.doc_old, r.doc_new, r.cos) for r in got
    )

    # ... and so does the IVF-PQ layout (round 14: same seeded
    # centroid pick, cell partitioning, and raw vector column — one
    # nightly dedup job serves whichever layout ANN serving chose)
    from spark_sorted_spark.functions.similarity import (
        build_ann_ivfpq_index,
    )

    pq_path = str(tmp_path / "pq_dedup_idx")
    build_ann_ivfpq_index(indexed, pq_path)
    pq = cosine_neardup_against_ivf_index(
        batch, pq_path, 0.9, nprobe=1
    ).collect()
    assert sorted((r.doc_old, r.doc_new, r.cos) for r in pq) == sorted(
        (r.doc_old, r.doc_new, r.cos) for r in got
    )

    import pytest as _pytest

    with _pytest.raises(ValueError, match="nprobe must be"):
        cosine_neardup_against_ivf_index(batch, path, 0.9, nprobe=0)


def test_cosine_neardup_ivf_hot_cell_guard(spark, tmp_path):
    """max_cell (VERDICT r13 #1): index cells past the bound are
    dropped from candidate generation — the degenerate-blob bound.
    One planted boilerplate blob (20 identical vectors, one argmax
    cell) exceeds max_cell=10; the guarded run reports exactly the
    unguarded pairs whose INDEXED member sits in a cell within the
    bound, and the unguarded default still finds the blob pairs."""
    from spark_sorted_spark.functions.similarity import (
        build_ann_ivf_index,
        cosine_neardup_against_ivf_index,
    )

    blob = [(100 + i, [1.0, 0.0, 0.0, 0.0]) for i in range(20)]
    scattered = [(200, [0.0, 1.0, 0.0, 0.0]), (300, [0.0, 0.0, 1.0, 0.0])]
    indexed = spark.createDataFrame(
        blob + scattered, "vec_id bigint, embedding array<double>"
    )
    batch = spark.createDataFrame(
        [(900001, [1.0, 0.0, 0.0, 0.0]), (900002, [0.0, 1.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    path = str(tmp_path / "hot_cell_idx")
    build_ann_ivf_index(indexed, path, nlist=4)

    unguarded = {
        (r.doc_old, r.doc_new)
        for r in cosine_neardup_against_ivf_index(
            batch, path, 0.99, nprobe=1
        ).collect()
    }
    # the blob copies ARE found without the guard (exact-dup contract)
    assert (100, 900001) in unguarded

    idx = spark.read.parquet(path)
    cell_of = {r.vec_id: r.cell for r in idx.select("vec_id", "cell").collect()}
    occ: dict = {}
    for c in cell_of.values():
        occ[c] = occ.get(c, 0) + 1
    assert occ[cell_of[100]] >= 20  # the blob really is one hot cell

    guarded = {
        (r.doc_old, r.doc_new)
        for r in cosine_neardup_against_ivf_index(
            batch, path, 0.99, nprobe=1, max_cell=10
        ).collect()
    }
    # guard semantics by construction: keep exactly the unguarded
    # pairs whose indexed member's cell is within the bound
    expected = {p for p in unguarded if occ[cell_of[p[0]]] <= 10}
    assert guarded == expected
    assert all(p[0] < 100 or p[0] >= 200 for p in guarded)  # blob gone
    if occ[cell_of[200]] <= 10:
        assert (200, 900002) in guarded  # cold cells untouched

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_cell must be"):
        cosine_neardup_against_ivf_index(batch, path, 0.9, max_cell=0)


def test_max_bucket_zero_rejected_everywhere(spark):
    """Round-14 review: max_bucket=0 would drop EVERY bucket and
    silently report zero pairs — every hot-bucket-guarded entry point
    must reject it loudly (centralized in dedup._check_max_bucket and
    similarity._occupancy_filter so the contract cannot diverge)."""
    from spark_sorted_spark.functions.dedup import (
        dedup_against_store,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        ngram_overlap_across,
    )
    from spark_sorted_spark.functions.similarity import (
        cosine_neardup_pairs_lsh,
        knn_join_lsh,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id long, text string"
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    attempts = [
        lambda: ngram_jaccard_pairs(docs, max_bucket=0),
        lambda: minhash_lsh_pairs(docs, max_bucket=0),
        lambda: ngram_overlap_across(docs, docs, max_bucket=0),
        lambda: dedup_against_store(docs, docs, docs, max_bucket=0),
        lambda: cosine_neardup_pairs_lsh(
            emb, 0.5, n_planes=2, dim=2, max_bucket=0
        ),
        lambda: knn_join_lsh(
            emb, emb, k=1, n_planes=2, dim=2, max_bucket=0
        ),
    ]
    for fn in attempts:
        with pytest.raises(ValueError, match="max_bucket must be >= 1"):
            fn()


def test_cosine_neardup_lsh_index_hot_bucket_guard(spark, tmp_path):
    """max_bucket on the incremental LSH form (round 14 — the one
    remaining candidate join without a degenerate-blob bound): a
    planted 20-copy blob shares one sign bucket; the guarded run
    reports exactly the unguarded pairs whose INDEXED member sits in
    a bucket within the bound."""
    from spark_sorted_spark.functions.similarity import (
        build_ann_lsh_index,
        cosine_neardup_against_index,
    )

    blob = [(100 + i, [1.0, 0.0, 0.0, 0.0]) for i in range(20)]
    scattered = [(200, [-1.0, 0.5, 0.25, -0.5])]
    indexed = spark.createDataFrame(
        blob + scattered, "vec_id bigint, embedding array<double>"
    )
    batch = spark.createDataFrame(
        [(900001, [1.0, 0.0, 0.0, 0.0]), (900002, [-1.0, 0.5, 0.25, -0.5])],
        "vec_id bigint, embedding array<double>",
    )
    path = str(tmp_path / "hot_bucket_lsh")
    build_ann_lsh_index(indexed, path, n_planes=4, dim=4)

    unguarded = {
        (r.doc_old, r.doc_new)
        for r in cosine_neardup_against_index(
            batch, path, 0.99, dim=4
        ).collect()
    }
    assert (100, 900001) in unguarded

    idx = spark.read.parquet(path)
    bucket_of = {
        r.vec_id: r.bucket for r in idx.select("vec_id", "bucket").collect()
    }
    occ: dict = {}
    for b in bucket_of.values():
        occ[b] = occ.get(b, 0) + 1
    assert occ[bucket_of[100]] >= 20  # the blob really is one bucket

    guarded = {
        (r.doc_old, r.doc_new)
        for r in cosine_neardup_against_index(
            batch, path, 0.99, dim=4, max_bucket=10
        ).collect()
    }
    expected = {p for p in unguarded if occ[bucket_of[p[0]]] <= 10}
    assert guarded == expected
    assert all(p[0] < 100 or p[0] >= 200 for p in guarded)  # blob gone
    if occ[bucket_of[200]] <= 10:
        assert (200, 900002) in guarded  # cold buckets untouched

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_bucket must be"):
        cosine_neardup_against_index(batch, path, 0.9, dim=4, max_bucket=0)


def test_cosine_neardup_ivf_rejects_wrong_dim_batch(spark, tmp_path):
    """ADVICE r13 (medium): a wrong-dim batch would NULL-fold every
    centroid dot and verify cosine, silently returning zero pairs —
    it must fail loudly instead."""
    from spark_sorted_spark.functions.similarity import (
        build_ann_ivf_index,
        cosine_neardup_against_ivf_index,
    )

    indexed = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(1, 9)],
        "vec_id bigint, embedding array<double>",
    )
    path = str(tmp_path / "dim_idx")
    build_ann_ivf_index(indexed, path, nlist=2)
    bad = spark.createDataFrame(
        [(900001, [1.0, 0.0, 0.0])],  # dim 3 vs index dim 4
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="dim 3"):
        cosine_neardup_against_ivf_index(bad, path, 0.9)
    # a MIXED batch slips past the one-row eager sample; the per-row
    # _dim_guard_col in the probe projection must fail it loudly
    # instead of NULL-folding the wrong-dim rows' pairs away
    from pyspark.errors import SparkRuntimeException

    mixed = spark.createDataFrame(
        [(900001, [1.0, 1.0, 0.0, 0.0]), (900002, [1.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(SparkRuntimeException, match="declared dim 4"):
        cosine_neardup_against_ivf_index(mixed, path, 0.9).collect()


def test_cosine_neardup_lsh_rejects_wrong_dim_batch(spark, tmp_path):
    """ADVICE r14 (the IVF twin's r13 contract, closed for the LSH
    form): a wrong-dim batch NULL-folds every sign-bit dot and verify
    cosine and silently returns zero duplicate pairs — it must fail
    loudly, eagerly for a uniform batch and per-row for a MIXED one."""
    from spark_sorted_spark.functions.similarity import (
        build_ann_lsh_index,
        cosine_neardup_against_index,
    )

    indexed = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(1, 9)],
        "vec_id bigint, embedding array<double>",
    )
    path = str(tmp_path / "dim_lsh_idx")
    build_ann_lsh_index(indexed, path, n_planes=4, dim=4)
    bad = spark.createDataFrame(
        [(900001, [1.0, 0.0, 0.0])],  # dim 3 vs recorded _lsh_meta dim 4
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="dim 3"):
        cosine_neardup_against_index(bad, path, 0.9)
    # a MIXED batch slips past the one-row eager sample; the per-row
    # guard riding the bucket projection must fail it loudly instead
    # of NULL-folding the wrong-dim rows' pairs away
    from pyspark.errors import SparkRuntimeException

    mixed = spark.createDataFrame(
        [(900001, [1.0, 1.0, 0.0, 0.0]), (900002, [1.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(SparkRuntimeException, match="declared dim 4"):
        cosine_neardup_against_index(mixed, path, 0.9).collect()
    # multiprobe path shares the guard (it wraps __dots there)
    with pytest.raises(SparkRuntimeException, match="declared dim 4"):
        cosine_neardup_against_index(
            mixed, path, 0.9, probe_bits=1
        ).collect()


def test_ann_ivf_persisted_index_pruned_probe(spark, emb, ro_store):
    from spark_sorted_spark.functions.similarity import (
        ann_ivf_topk,
        ann_ivf_topk_indexed,
    )

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    base = emb.filter(F.col("vec_id") != 0)
    path = ro_store("ivf")

    probe = ann_ivf_topk_indexed(spark, path, qvec, k=5)
    plan = plan_of(probe, "formatted")
    assert "PartitionFilters" in plan and "cell" in plan, plan
    got = [(r.vec_id, r.rank) for r in probe.collect()]
    query_time = ann_ivf_topk(base, qvec, k=5)
    assert got == [(r.vec_id, r.rank) for r in query_time.collect()]


def test_embedding_lsh_max_bucket_guard(spark, emb):
    from spark_sorted_spark.functions.similarity import cosine_neardup_pairs_lsh

    # capped candidates are a subset of the uncapped construction, and
    # a tiny cap still finds nothing spurious (precision 1.0 both ways)
    full = {
        (r.vec_a, r.vec_b)
        for r in cosine_neardup_pairs_lsh(emb, 0.4, n_planes=4).collect()
    }
    capped = {
        (r.vec_a, r.vec_b)
        for r in cosine_neardup_pairs_lsh(emb, 0.4, n_planes=4, max_bucket=20).collect()
    }
    assert capped <= full


def test_ann_lsh_multiprobe_recall_monotone(spark, emb):
    # probe_bits widens the candidate pool with one-bit-flip buckets of
    # the least-confident planes: recall vs the exact top-k must be
    # monotone non-decreasing in probes, and full-width probing of all
    # 2^8 buckets would be exact by construction.
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    base = emb.filter(F.col("vec_id") != 0)
    exact = {r.vec_id for r in cosine_topk(base, qvec, k=10).collect()}

    def recall(m):
        got = {r.vec_id for r in ann_lsh_topk(base, qvec, k=10, probe_bits=m).collect()}
        return len(got & exact) / len(exact)

    r0, r2, r4 = recall(0), recall(2), recall(4)
    assert r0 <= r2 <= r4, (r0, r2, r4)


def test_ann_lsh_multiprobe_indexed_matches_query_time(spark, emb, ro_store):
    from spark_sorted_spark.functions.similarity import ann_lsh_topk_indexed

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    base = emb.filter(F.col("vec_id") != 0)
    path = ro_store("lsh")
    a = ann_lsh_topk(base, qvec, k=5, probe_bits=3).collect()
    b = ann_lsh_topk_indexed(spark, path, qvec, k=5, probe_bits=3).collect()
    assert [(r.vec_id, r.rank) for r in a] == [(r.vec_id, r.rank) for r in b]
    # the hamming-2 deep probe (round 7) must agree between the
    # query-time and partition-pruned indexed forms too
    a2 = ann_lsh_topk(
        base, qvec, k=5, probe_bits=5, probe_hamming=2
    ).collect()
    b2 = ann_lsh_topk_indexed(
        spark, path, qvec, k=5, probe_bits=5, probe_hamming=2
    ).collect()
    assert [(r.vec_id, r.rank) for r in a2] == [(r.vec_id, r.rank) for r in b2]
    # deeper probing never returns fewer results at the same k
    assert len(b2) >= len(b)


def test_dot_py_dimension_mismatch_raises():
    from spark_sorted_spark.functions.similarity import dot_py

    with pytest.raises(ValueError, match="dimension mismatch"):
        dot_py([1.0, 2.0], [1.0])


def test_hash_split_disjoint_exhaustive_deterministic(docs):
    from spark_sorted_spark.functions.sampling import hash_split

    out = hash_split(docs, "doc_id", {"train": 8, "val": 1, "test": 1})
    pdf = out.select("doc_id", "split").toPandas()
    # exhaustive: every row labeled; disjoint by construction
    assert pdf["split"].notna().all()
    counts = pdf["split"].value_counts().to_dict()
    n = len(pdf)
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > counts.get("val", 0)
    assert counts["train"] > counts.get("test", 0)
    # ~80% train with a loose band (hash, not RNG — but still stochastic
    # over ids)
    assert 0.6 * n <= counts["train"] <= 0.95 * n
    # rerun + repartition invariance: identical assignment per id
    again = (
        hash_split(docs.repartition(7), "doc_id", {"train": 8, "val": 1, "test": 1})
        .select("doc_id", "split")
        .toPandas()
    )
    assert dict(zip(pdf["doc_id"], pdf["split"])) == dict(
        zip(again["doc_id"], again["split"])
    )


def test_hash_sample_deterministic_and_partition_invariant(docs):
    from spark_sorted_spark.functions.sampling import hash_sample

    s1 = {r["doc_id"] for r in hash_sample(docs, "doc_id", 30).collect()}
    s2 = {r["doc_id"] for r in hash_sample(docs, "doc_id", 30).collect()}
    assert s1 == s2  # rerun-stable
    reparted = docs.repartition(7)
    s3 = {r["doc_id"] for r in hash_sample(reparted, "doc_id", 30).collect()}
    assert s1 == s3  # layout-invariant (content hash, not RNG)
    n = docs.count()
    assert 0.15 * n <= len(s1) <= 0.45 * n  # ~30%
    # nesting: a 10% sample is a subset of the 30% sample (same hash)
    s10 = {r["doc_id"] for r in hash_sample(docs, "doc_id", 10).collect()}
    assert s10 <= s1


def test_ngram_overlap_across_guard_and_boundary(spark):
    from spark_sorted_spark.functions.dedup import ngram_overlap_across

    # corpus doc 1 shares exactly 3 shingles with bench 10 ("a b c d e"
    # → shingles {a b c, b c d, c d e}); corpus doc 2 shares none
    corpus = spark.createDataFrame(
        [(1, "a b c d e x y"), (2, "p q r s t")], ["doc_id", "text"]
    )
    bench = spark.createDataFrame(
        [(10, "a b c d e"), (11, "z z z z z")], ["doc_id", "text"]
    )
    out = ngram_overlap_across(corpus, bench, min_common=3).collect()
    assert [(r["doc_id"], r["bench_id"], r["n_common"]) for r in out] == [(1, 10, 3)]
    # min_common just above the overlap → empty
    assert ngram_overlap_across(corpus, bench, min_common=4).count() == 0
    # max_bucket=0 would drop EVERY benchmark shingle and silently
    # report a clean corpus — since round 14 that is a loud error
    # (test_max_bucket_zero_rejected_everywhere pins all six sites);
    # max_bucket=1 pins the guard's real behavior: the shared "z z z"
    # shingle (bench 11 has one distinct shingle, occupancy 1) keeps
    # working while nothing degenerate exists at this size
    with pytest.raises(ValueError, match="max_bucket must be >= 1"):
        ngram_overlap_across(corpus, bench, min_common=1, max_bucket=0)
    out1 = ngram_overlap_across(
        corpus, bench, min_common=3, max_bucket=1
    ).collect()
    assert [(r["doc_id"], r["bench_id"], r["n_common"]) for r in out1] == [
        (1, 10, 3)
    ]


def _wav_bytes(freq_hz: float, n_frames: int, rate: int = 8000) -> bytes:
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        pcm = b"".join(
            struct.pack(
                "<h", int(12000 * math.sin(2 * math.pi * freq_hz * i / rate))
            )
            for i in range(n_frames)
        )
        w.writeframes(pcm)
    return buf.getvalue()


def test_audio_features_real_wav_decode(spark):
    # the one REAL decoder this container has (stdlib wave): features
    # must match a local decode of the same payloads exactly
    import numpy as np
    import wave as wave_mod
    import io

    from spark_sorted_spark.functions.multimodal import audio_features, decode

    payloads = {1: _wav_bytes(440.0, 800), 2: _wav_bytes(100.0, 1600), 3: _wav_bytes(0.0, 0)}
    df = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()], ["doc_id", "payload"]
    )
    got = {r.doc_id: r for r in audio_features(df).collect()}
    assert set(got) == {1, 2, 3}
    for did, payload in payloads.items():
        with wave_mod.open(io.BytesIO(payload)) as w:
            n, rate = w.getnframes(), w.getframerate()
            pcm = np.frombuffer(
                w.readframes(n), dtype="<i2"
            ).astype("float64")
        r = got[did]
        assert (r.sample_rate, r.channels, r.n_frames) == (rate, 1, n)
        assert r.duration_us == n * 1_000_000 // rate
        expect_rms = float(np.sqrt(np.mean(pcm * pcm))) if len(pcm) else 0.0
        assert r.rms == expect_rms
    # driver-side decode() agrees with the distributed path
    d = decode(payloads[1], "audio")
    assert d["n_frames"] == 800 and d["sample_rate"] == 8000


def test_audio_features_rejects_non_wav(spark):
    from spark_sorted_spark.functions.multimodal import audio_features

    df = spark.createDataFrame([(1, bytearray(b"not a riff"))], ["doc_id", "payload"])
    with pytest.raises(Exception, match="NotImplementedError|decoder"):
        audio_features(df).collect()


def test_image_decode_with_pil(spark):
    # env-gap pin: auto-activates the real image path the moment the
    # sandbox gains PIL (round-5 verdict item 5)
    PIL = pytest.importorskip("PIL")  # noqa: F841
    import io

    from PIL import Image

    from spark_sorted_spark.functions.multimodal import decode

    buf = io.BytesIO()
    Image.new("RGB", (4, 2), (255, 0, 0)).save(buf, format="PNG")
    d = decode(buf.getvalue(), "image")
    assert (d["width"], d["height"], d["mode"]) == (4, 2, "RGB")
    assert d["pixels"] == b"\xff\x00\x00" * 8


def test_dedup_against_store_matches_cross_batch_self_dedup(spark, docs, ro_store):
    """Incremental dedup must equal the cross-batch subset of a full
    self-dedup over the combined corpus: same bands, same combined
    bucket guard, same exact verify — only the store side's signature
    cost moves to build time."""
    from spark_sorted_spark.functions.dedup import (
        dedup_against_store,
        minhash_lsh_pairs,
    )

    existing = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    store = ro_store("bands")

    inc = dedup_against_store(new, store, existing)
    got = sorted(map(tuple, inc.collect()))

    full = minhash_lsh_pairs(docs).collect()
    expect = sorted(
        # self-dedup orders pairs doc_a < doc_b; cross pairs keep
        # (old, new) orientation regardless of id order
        (
            (r.doc_a, r.doc_b, r.n_common, r.n_a, r.n_b)
            if r.doc_a % 4 != 0
            else (r.doc_b, r.doc_a, r.n_common, r.n_b, r.n_a)
        )
        for r in full
        if (r.doc_a % 4 == 0) != (r.doc_b % 4 == 0)
    )
    assert got == expect
    # the store is reusable: a second batch call recomputes nothing on
    # the corpus side and returns the identical result
    again = sorted(map(tuple, dedup_against_store(new, store, existing).collect()))
    assert again == got


def test_dedup_against_store_prunes_store_via_broadcast(spark, docs, ro_store):
    """The 100 TB contract of the incremental path: the persisted
    store must meet only a scan + broadcast-hash-join against the
    new-batch key set — never a full-store shuffle. Pinned on the
    static plan: both guard-key joins are BroadcastHashJoin, and the
    store's counts table is read (not re-aggregated from bands)."""
    from tests.conftest import plan_of

    from spark_sorted_spark.functions.dedup import dedup_against_store

    from spark_sorted_spark.functions.dedup import (
        _combined_small_keys,
        minhash_band_table,
    )

    existing = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    store = ro_store("bands")

    # guard plan: precomputed counts scanned (store_n), new keys
    # broadcast into the store-counts scan (no store-side Exchange
    # before the BHJ), and only BHJs touch the store side
    store_counts = spark.read.parquet(f"{store}/counts")
    guard = _combined_small_keys(minhash_band_table(new), store_counts, 50)
    gplan = plan_of(guard, mode="simple")
    assert "store_n" in gplan
    assert gplan.count("BroadcastHashJoin") == 2

    # end-to-end plan: the guard key set is a checkpointed leaf, and
    # the store bands meet it through a broadcast join (the bands scan
    # is never globally shuffled)
    plan = plan_of(dedup_against_store(new, store, existing), mode="simple")
    assert plan.count("BroadcastHashJoin") >= 2


def test_dedup_against_store_after_append_matches_self_dedup(spark, docs, tmp_path):
    """Full nightly lifecycle: build on batch A, append batch B (delta
    counts, no rewrite), then dedup batch C against the store — must
    equal the cross-pairs (old in A∪B, new in C) of one self-dedup
    over the whole corpus, proving delta-count merging preserves the
    combined bucket-guard semantics."""
    from spark_sorted_spark.functions.dedup import (
        append_to_minhash_band_store,
        build_minhash_band_store,
        dedup_against_store,
        minhash_lsh_pairs,
    )

    a = docs.filter(F.col("doc_id") % 4 == 1)
    b = docs.filter((F.col("doc_id") % 4 == 2) | (F.col("doc_id") % 4 == 3))
    c = docs.filter(F.col("doc_id") % 4 == 0)
    store = str(tmp_path / "store")
    build_minhash_band_store(a, store)
    append_to_minhash_band_store(b, store)
    corpus = a.unionByName(b)

    got = sorted(map(tuple, dedup_against_store(c, store, corpus).collect()))
    full = minhash_lsh_pairs(docs).collect()
    expect = sorted(
        (
            (r.doc_a, r.doc_b, r.n_common, r.n_a, r.n_b)
            if r.doc_a % 4 != 0
            else (r.doc_b, r.doc_a, r.n_common, r.n_b, r.n_a)
        )
        for r in full
        if (r.doc_a % 4 == 0) != (r.doc_b % 4 == 0)
    )
    assert got == expect


def test_dedup_against_store_accepts_dataframe_store(spark, docs):
    from spark_sorted_spark.functions.dedup import (
        dedup_against_store,
        minhash_band_table,
    )

    existing = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    bands = minhash_band_table(existing)
    out = dedup_against_store(new, bands, existing)
    assert out.columns == ["doc_old", "doc_new", "n_common", "n_old", "n_new"]
    assert out.count() >= 0


def test_ann_ivf_lloyd_refinement(spark, emb, tmp_path, ro_store):
    """Lloyd-refined index: probes stay exact-cosine-correct (subset
    of exact ranking, identical given the same index), cells cover
    every vector, recall at full probe is exact by construction, and
    refinement must not DEGRADE single-probe recall below the seeded
    pick on this clustered data."""
    from spark_sorted_spark.functions.similarity import (
        ann_ivf_topk_indexed,
        build_ann_ivf_index,
        cosine_topk,
    )

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    base = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in cosine_topk(base, qvec, k=5).collect()]

    def probe_ids(path, nprobe):
        return [
            r.vec_id
            for r in ann_ivf_topk_indexed(
                spark, path, qvec, k=5, nprobe=nprobe
            ).collect()
        ]

    seeded, refined = ro_store("ivf"), str(tmp_path / "lloyd")
    build_ann_ivf_index(base, refined, lloyd_iters=3)

    n_base = base.count()
    for path in (seeded, refined):
        # every vector landed in exactly one cell
        assert spark.read.parquet(path).count() == n_base
        # probing every cell is exhaustive -> exactly the exact top-k
        assert probe_ids(path, nprobe=16) == exact

    def recall(ids):
        return len(set(ids) & set(exact)) / len(exact)

    assert recall(probe_ids(refined, 1)) >= recall(probe_ids(seeded, 1))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="lloyd_iters"):
        build_ann_ivf_index(base, str(tmp_path / "bad"), lloyd_iters=-1)


def _bmp_bytes(pixels_rgb, width, height, bpp=24, top_down=False):
    # minimal BITMAPINFOHEADER writer: rows 4-byte padded, bottom-up
    # unless top_down (negative height) — the spec layout the decoder
    # must invert
    import struct

    step = bpp // 8
    row_bytes = (width * step + 3) & ~3
    px = bytearray()
    rows = [pixels_rgb[r * width : (r + 1) * width] for r in range(height)]
    ordered = rows if top_down else rows[::-1]
    for row in ordered:
        line = bytearray()
        for (r, g, b) in row:
            line += bytes((b, g, r)) + (b"\x00" if step == 4 else b"")
        line += b"\x00" * (row_bytes - len(line))
        px += line
    header_size = 14 + 40
    h_field = -height if top_down else height
    return (
        b"BM"
        + struct.pack("<IHHI", header_size + len(px), 0, 0, header_size)
        + struct.pack(
            "<IiiHHIIiiII", 40, width, h_field, 1, bpp, 0, len(px), 0, 0, 0, 0
        )
        + bytes(px)
    )


def _png_bytes(pixels, width, height, ctype, filters):
    # spec-faithful encoder: applies the REQUESTED filter type per
    # scanline (forward direction per the PNG spec), so decoding must
    # invert every filter exactly to round-trip
    import struct
    import zlib

    ch = {0: 1, 2: 3, 6: 4}[ctype]
    stride = width * ch
    flat = bytearray()
    for p in pixels:
        flat += bytes(p if isinstance(p, (tuple, list)) else (p,))
    raw = bytearray()
    prev = bytearray(stride)
    for r in range(height):
        line = flat[r * stride : (r + 1) * stride]
        ft = filters[r % len(filters)]
        raw.append(ft)
        enc = bytearray()
        for i in range(stride):
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ft == 0:
                v = line[i]
            elif ft == 1:
                v = (line[i] - a) & 0xFF
            elif ft == 2:
                v = (line[i] - b) & 0xFF
            elif ft == 3:
                v = (line[i] - ((a + b) >> 1)) & 0xFF
            else:  # Paeth
                pr = a + b - c
                pa, pb, pc = abs(pr - a), abs(pr - b), abs(pr - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = (line[i] - pred) & 0xFF
            enc.append(v)
        raw += enc
        prev = line

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_bmp_decode_real(spark):
    from spark_sorted_spark.functions.multimodal import decode

    pix = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30), (40, 50, 60), (70, 80, 90)]
    for top_down in (False, True):
        for bpp in (24, 32):
            d = decode(_bmp_bytes(pix, 3, 2, bpp=bpp, top_down=top_down), "image")
            assert (d["width"], d["height"], d["mode"]) == (3, 2, "RGB")
            assert d["pixels"] == b"".join(bytes(p) for p in pix), (top_down, bpp)


def test_png_decode_real_all_filters(spark):
    # round-trip through every scanline filter (None/Sub/Up/Average/
    # Paeth) and every supported color type — the decoder must invert
    # the spec's forward filters exactly
    from spark_sorted_spark.functions.multimodal import decode

    w, h = 5, 5
    rgb = [((r * 37 + c * 11) % 256, (r * 5) % 256, (c * 91) % 256)
           for r in range(h) for c in range(w)]
    for ctype, pix in (
        (2, rgb),
        (6, [(p[0], p[1], p[2], (p[0] + p[2]) % 256) for p in rgb]),
        (0, [p[0] for p in rgb]),
    ):
        payload = _png_bytes(pix, w, h, ctype, filters=[0, 1, 2, 3, 4])
        d = decode(payload, "image")
        expect = b"".join(
            bytes(p if isinstance(p, tuple) else (p,)) for p in pix
        )
        assert (d["width"], d["height"]) == (w, h)
        assert d["pixels"] == expect, ctype


def test_image_features_real_decode_distributed(spark):
    from spark_sorted_spark.functions.multimodal import image_features

    bmp = _bmp_bytes([(8, 16, 24), (32, 40, 48)], 2, 1)
    png = _png_bytes([(1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12)],
                     2, 2, 2, filters=[1, 4])
    df = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(png))], ["doc_id", "payload"]
    )
    got = {r.doc_id: r for r in image_features(df).collect()}
    assert (got[1].width, got[1].height, got[1].mode, got[1].n_pixels) == (2, 1, "RGB", 2)
    assert got[1].mean_intensity == sum((8, 16, 24, 32, 40, 48)) / 6
    assert (got[2].width, got[2].height, got[2].mode) == (2, 2, "RGB")
    assert got[2].mean_intensity == sum(range(1, 13)) / 12
    # undecodable format on a real path fails loudly
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(9, bytearray(b"\xff\xd8\xff\xe0 jpeg-ish"))], ["doc_id", "payload"]
    )
    with _pytest.raises(Exception, match="NotImplementedError|decoder|PIL"):
        image_features(bad).collect()


def test_resize_images_real_roundtrip(spark):
    # the REAL resize pipeline (round 7): decode BMP -> nearest-
    # neighbor -> re-encode PNG; decoding the output must yield
    # exactly the integer-indexed source pixels
    from spark_sorted_spark.functions.multimodal import decode, resize_images

    # 4x2 source with distinct pixels
    pix = [(r * 60 + c * 10, c * 30, r * 100) for r in range(2) for c in range(4)]
    bmp = _bmp_bytes(pix, 4, 2)
    df = spark.createDataFrame([(1, bytearray(bmp))], ["doc_id", "payload"])
    out = resize_images(df, 2, 2, fake=False).collect()[0]
    assert out.meta.modality == "image/png;2x2"
    d = decode(bytes(out.payload), "image")
    assert (d["width"], d["height"], d["mode"]) == (2, 2, "RGB")
    # nearest neighbor: out(x,y) <- src(x*4//2, y*2//2) = src(2x, y)
    expect = b"".join(bytes(pix[y * 4 + 2 * x]) for y in range(2) for x in range(2))
    assert d["pixels"] == expect
    # upscale path too: 8x2 from the same source
    up = resize_images(df, 8, 2, fake=False).collect()[0]
    du = decode(bytes(up.payload), "image")
    expect_up = b"".join(
        bytes(pix[y * 4 + (x * 4 // 8)]) for y in range(2) for x in range(8)
    )
    assert du["pixels"] == expect_up


def test_decoders_reject_crafted_payloads(spark):
    # ADVICE r7: these decoders face UNTRUSTED payloads on executor
    # threads — a crafted header or decompression bomb must fail
    # loudly BEFORE allocating, not OOM/stall the executor
    import struct
    import zlib

    import pytest as _pytest

    from spark_sorted_spark.functions.multimodal import decode

    def png(ihdr_body, idat):
        def chunk(typ, body):
            return (
                struct.pack(">I", len(body))
                + typ
                + body
                + struct.pack(">I", zlib.crc32(typ + body))
            )

        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr_body)
            + chunk(b"IDAT", idat)
            + chunk(b"IEND", b"")
        )

    # absurd IHDR dimensions: rejected before any allocation
    huge = png(
        struct.pack(">IIBBBBB", 1 << 20, 1 << 20, 8, 2, 0, 0, 0),
        zlib.compress(b"\x00"),
    )
    with _pytest.raises(ValueError, match="decode cap"):
        decode(huge, "image")

    # decompression bomb: 2x2 gray IHDR, IDAT inflating to ~10 MB
    bomb = png(
        struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0),
        zlib.compress(b"\x00" * 10_000_000),
    )
    with _pytest.raises(ValueError, match="bomb|filtered stream"):
        decode(bomb, "image")

    # short filtered stream (header promises more rows than IDAT holds)
    short = png(
        struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0),
        zlib.compress(b"\x00" * 5),
    )
    with _pytest.raises(ValueError, match="filtered stream"):
        decode(short, "image")

    # truncated BMP pixel array
    good = _bmp_bytes([(1, 2, 3), (4, 5, 6)], 2, 1)
    with _pytest.raises(ValueError, match="truncated"):
        decode(good[:-4], "image")

    # zero/negative dimensions
    zero = png(
        struct.pack(">IIBBBBB", 0, 4, 8, 2, 0, 0, 0), zlib.compress(b"")
    )
    with _pytest.raises(ValueError, match="invalid"):
        decode(zero, "image")


def test_png_decoder_fuzz_roundtrip(spark):
    # hypothesis fuzz: random pixels, random per-row filter choices,
    # random small dimensions and color types — the decoder must
    # round-trip the spec-faithful encoder exactly every time
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_sorted_spark.functions.multimodal import decode

    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 9),
        ctype=st.sampled_from([0, 2, 6]),
        data=st.data(),
    )
    @settings(max_examples=25, deadline=None)
    def run(w, h, ctype, data):
        ch = {0: 1, 2: 3, 6: 4}[ctype]
        n = w * h
        flat = data.draw(
            st.lists(st.integers(0, 255), min_size=n * ch, max_size=n * ch)
        )
        filters = data.draw(
            st.lists(st.integers(0, 4), min_size=h, max_size=h)
        )
        if ctype == 0:
            pix = flat
        else:
            pix = [tuple(flat[i * ch : (i + 1) * ch]) for i in range(n)]
        payload = _png_bytes(pix, w, h, ctype, filters=filters)
        d = decode(payload, "image")
        assert (d["width"], d["height"]) == (w, h)
        assert d["pixels"] == bytes(flat)

    run()


def test_lsh_index_auto_depth_build(spark, emb, tmp_path):
    # n_planes=None at build time derives the depth from the corpus
    # count and records it in _lsh_meta; probes adopt it transparently
    from spark_sorted_spark.functions.similarity import (
        ann_lsh_topk_indexed,
        auto_planes,
        build_ann_lsh_index,
    )

    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    path = str(tmp_path / "auto_idx")
    build_ann_lsh_index(corpus, path, n_planes=None)
    meta = spark.read.parquet(f"{path}/_lsh_meta").collect()[0]
    # the single-table build auto-sizes against target_bucket=128
    # (adjudicated round 12, PARITY "b27 auto-depth": one table with
    # no OR-construction needs fatter buckets for both recall and the
    # directory-count cost term)
    assert meta.n_planes == auto_planes(corpus.count(), 128)
    assert ann_lsh_topk_indexed(spark, path, qvec, k=3).collect()


# ---------------------------------------------------------------------------
# ADVICE r8 regression pins
# ---------------------------------------------------------------------------


def test_ann_index_rebuild_from_own_read_survives(spark, emb, store_copy):
    """The rebuild/compaction flow streaming/ann.py recommends feeds
    build_ann_lsh_index a df READ FROM THE INDEX ITSELF (it holds
    id+embedding). The build must stage the new assignment and swap —
    an eager pre-delete would destroy the only copy before the lazy
    write ever scanned it (ADVICE r8, medium)."""
    import os

    from spark_sorted_spark.functions.similarity import (
        ann_lsh_topk_indexed,
        build_ann_lsh_index,
    )

    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    path = store_copy("lsh", "rebuild_idx")
    want = [
        (r.vec_id, r.rank)
        for r in ann_lsh_topk_indexed(spark, path, qvec, k=5).collect()
    ]

    # rebuild straight from the live index (lazy scan of `path`)
    relaid = spark.read.parquet(path).select("vec_id", "embedding")
    build_ann_lsh_index(relaid, path)

    assert spark.read.parquet(path).count() == corpus.count()
    got = [
        (r.vec_id, r.rank)
        for r in ann_lsh_topk_indexed(spark, path, qvec, k=5).collect()
    ]
    assert got == want
    # staged/aside dirs are cleaned up after the swap
    assert not os.path.exists(f"{path}.building")
    assert not os.path.exists(f"{path}.old")


def test_ann_ivf_rebuild_from_own_read_survives(spark, emb, store_copy):
    """IVF twin of the rebuild-from-own-read pin."""
    import os

    from spark_sorted_spark.functions.similarity import (
        ann_ivf_topk_indexed,
        build_ann_ivf_index,
    )

    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    path = store_copy("ivf", "rebuild_ivf")
    want = [
        (r.vec_id, r.rank)
        for r in ann_ivf_topk_indexed(spark, path, qvec, k=5).collect()
    ]

    relaid = spark.read.parquet(path).select("vec_id", "embedding")
    build_ann_ivf_index(relaid, path)

    assert spark.read.parquet(path).count() == corpus.count()
    got = [
        (r.vec_id, r.rank)
        for r in ann_ivf_topk_indexed(spark, path, qvec, k=5).collect()
    ]
    assert got == want
    assert not os.path.exists(f"{path}.building")
    assert not os.path.exists(f"{path}.old")


def test_index_builds_reject_mixed_dim_corpus(spark, tmp_path):
    """ADVICE r13: _check_corpus_dim samples ONE row, so a corpus with
    MIXED vector lengths slipped past it — the wrong-length rows were
    persisted and NULL-folded at probe time with silently degraded
    recall. The exact write-path guard (_dim_guard_col) must fail the
    BUILD/APPEND loudly instead."""
    from pyspark.errors import SparkRuntimeException

    from spark_sorted_spark.functions.similarity import (
        append_to_ann_ivf_index,
        build_ann_ivf_index,
        build_ann_ivfsq8_index,
        build_ann_lsh_index,
    )

    good = [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(1, 30)]
    mixed = spark.createDataFrame(
        good + [(99, [1.0, 0.0, 0.0])],  # one dim-3 row among dim-4
        "vec_id bigint, embedding array<double>",
    )
    clean = spark.createDataFrame(
        good, "vec_id bigint, embedding array<double>"
    )

    with pytest.raises(SparkRuntimeException, match="declared dim 4"):
        build_ann_ivf_index(mixed, str(tmp_path / "ivf"), nlist=2)
    with pytest.raises(SparkRuntimeException, match="declared dim 4"):
        build_ann_lsh_index(mixed, str(tmp_path / "lsh"), dim=4)
    with pytest.raises(SparkRuntimeException, match="declared dim 4"):
        build_ann_ivfsq8_index(mixed, str(tmp_path / "sq8"), nlist=2, dim=4)
    # the append path carries the same guard (streamed batches are the
    # realistic malformed source)
    path = str(tmp_path / "ivf_ok")
    build_ann_ivf_index(clean, path, nlist=2)
    with pytest.raises(SparkRuntimeException, match="declared dim 4"):
        append_to_ann_ivf_index(
            mixed.filter(F.col("vec_id") == 99), path, batch_id=1
        )
    # a clean corpus builds and probes unchanged
    build_ann_ivf_index(clean, str(tmp_path / "ivf_clean"), nlist=2)
    assert spark.read.parquet(str(tmp_path / "ivf_clean")).count() == 29


def test_check_corpus_dim_catches_mixed_sample(spark):
    """ADVICE r14 follow-through: the eager check samples 8 rows, so
    a mixed-dim corpus whose MINORITY-length row leads (the case a
    one-row sample plus a seeded-centroid pick of that same row
    turned into a misleading majority-rows failure) is caught up
    front with BOTH lengths named."""
    from spark_sorted_spark.functions.similarity import _check_corpus_dim

    mixed = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])]
        + [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(1, 5)],
        "vec_id bigint, embedding array<double>",
    )
    # declared dim 3 = the minority length the seed would have adopted
    with pytest.raises(ValueError, match=r"MIXED vector lengths \[3, 4\]"):
        _check_corpus_dim(mixed, "embedding", 3, "t")


def test_driver_cache_survives_synthetic_mtime_republish(spark, emb, tmp_path):
    """ADVICE r13: on object stores, directory mtimes are synthetic
    (often 0), so a republish at the same resolved path could serve
    stale centroids from the long-lived driver cache if mtime were
    the only staleness key. The cache key also folds in the metadata
    dir's file listing (names + lengths) — simulated here by
    rebuilding with DIFFERENT data and forcing the _centroids dir
    mtime back to its pre-rebuild value: the probe must still see the
    new centroids."""
    import os

    from spark_sorted_spark.functions.similarity import (
        _load_centroids,
        build_ann_ivf_index,
    )

    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    path = str(tmp_path / "mtime_idx")
    build_ann_ivf_index(corpus.filter(F.col("vec_id") <= 100), path)
    meta = f"{path}/_centroids"
    st = os.stat(meta)
    before = _load_centroids(spark, path)  # populates the cache

    build_ann_ivf_index(corpus.filter(F.col("vec_id") > 100), path)
    # pin the dir mtime back: the object-store synthetic-mtime case
    os.utime(meta, (st.st_atime, st.st_mtime))
    after = _load_centroids(spark, path)
    assert after != before, "driver cache served stale centroids"


def test_append_negative_batch_id_is_reserved(spark, emb, tmp_path, store_copy):
    """batch_id=-1 (or any negative) on the append paths would silently
    OVERWRITE the ingest_batch_id=-1 base partition the build wrote —
    the whole base corpus assignment replaced by one batch (ADVICE r8).
    All three appenders must refuse."""
    from spark_sorted_spark.functions.dedup import (
        append_to_minhash_band_store,
        build_minhash_band_store,
    )
    from spark_sorted_spark.functions.similarity import (
        append_to_ann_ivf_index,
        append_to_ann_lsh_index,
    )

    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    lsh = store_copy("lsh", "lsh")
    ivf = store_copy("ivf", "ivf")
    with pytest.raises(ValueError, match="reserved"):
        append_to_ann_lsh_index(corpus, lsh, batch_id=-1)
    with pytest.raises(ValueError, match="reserved"):
        append_to_ann_ivf_index(corpus, ivf, batch_id=-2)

    docs = spark.createDataFrame([(1, "some text here")], ["doc_id", "text"])
    store = str(tmp_path / "store")
    build_minhash_band_store(docs, store)
    with pytest.raises(ValueError, match="reserved"):
        append_to_minhash_band_store(docs, store, batch_id=-1)
    # base partitions untouched by the refused appends
    assert spark.read.parquet(lsh).count() == corpus.count()


def test_knn_exact_fallback_total_despite_zero_norm_collisions(spark):
    """A left vector whose ONLY bucket collisions are zero-norm rights
    must still be treated as a miss by exact_fallback (its candidates
    all die at the norm filter): pre-fix the anti-join keyed on
    PRE-verify candidates and returned no rows for it, contradicting
    the documented totality over non-zero-norm lefts (ADVICE r8).

    Construction: bit p of a bucket is 1 iff dot(v, plane_p) >= 0, so
    the ZERO vector lands in the all-ones bucket of every table. A left
    vector with strictly positive dots against all planes of the single
    table shares that bucket; its negation (all-negative dots) lands in
    bucket 0 — no collision."""
    import numpy as np

    from spark_sorted_spark.functions.similarity import (
        _hyperplane,
        knn_join_lsh,
    )

    dim, n_planes = 8, 4
    planes = np.array([_hyperplane(p, dim) for p in range(n_planes)])
    v = planes.sum(axis=0)
    dots = planes @ v
    # premise of the construction (deterministic: seeded planes)
    assert (dots > 0).all(), dots

    left = spark.createDataFrame(
        [(1, [float(x) for x in v])], "vec_id bigint, embedding array<float>"
    )
    right = spark.createDataFrame(
        [
            (10, [0.0] * dim),  # zero-norm: shares left's bucket
            (11, [float(-x) for x in v]),  # opposite bucket: no collision
        ],
        "vec_id bigint, embedding array<float>",
    )

    # without fallback: left's only collision is the zero vector, which
    # the verify drops -> no rows
    none = knn_join_lsh(
        left, right, k=1, n_planes=n_planes, n_tables=1, dim=dim
    )
    assert none.count() == 0

    # with fallback: left must be recognized as a miss and brute-forced
    # against the (non-zero-norm) right corpus
    out = knn_join_lsh(
        left,
        right,
        k=1,
        n_planes=n_planes,
        n_tables=1,
        dim=dim,
        exact_fallback=True,
    ).collect()
    assert [(r.left_id, r.right_id, r.rank) for r in out] == [(1, 11, 1)]
    assert abs(out[0].cos - (-1.0)) < 1e-9


def test_jaccard_prefix_hot_split_is_lossless(spark):
    """The block-salted hot path (skew mitigation — PARITY.md skew
    adjudication: AQE's splitter measurably cannot split this join)
    must return EXACTLY the default path's pairs. Forced by a tiny
    hot threshold so every shingle takes the salted path, plus a mixed
    corpus where only the identical-document group is hot."""
    hot = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, hot) for i in range(40)] + [
        (1000 + i, f"unique doc {i} tells {i * 13} of {i * 7} and {i * 3}")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    want = sorted(
        (r.doc_a, r.doc_b)
        for r in jaccard_prefix_pairs(df, hot_shingle_rows=None).collect()
    )
    assert len(want) >= 40 * 39 // 2
    # every shingle hot -> pure salted path (probe at fraction 1.0 so
    # the tiny corpus reliably triggers the two-path plan)
    all_hot = sorted(
        (r.doc_a, r.doc_b)
        for r in jaccard_prefix_pairs(
            df, hot_shingle_rows=1, hot_salt=4, hot_probe_fraction=1.0
        ).collect()
    )
    assert all_hot == want
    # mixed: only the identical group's shingles exceed df > 30
    mixed = sorted(
        (r.doc_a, r.doc_b)
        for r in jaccard_prefix_pairs(
            df, hot_shingle_rows=30, hot_salt=4, hot_probe_fraction=1.0
        ).collect()
    )
    assert mixed == want
    # default threshold never triggers at this scale: same answer
    dflt = sorted(
        (r.doc_a, r.doc_b) for r in jaccard_prefix_pairs(df).collect()
    )
    assert dflt == want


def test_jaccard_prefix_join_salt_is_lossless_and_splits_key(spark):
    """R-S form: the always-on (shingle, blk) salt returns exactly the
    unsalted join's pairs, and the candidate join really keys on the
    block column (the skew split is structural, not cosmetic)."""
    hot = "alpha beta gamma delta epsilon zeta eta theta"
    left = spark.createDataFrame(
        [(i, hot) for i in range(50)]
        + [(500 + i, f"left {i} has {i * 13} and {i * 7}") for i in range(40)],
        ["doc_id", "text"],
    )
    right = spark.createDataFrame(
        [(1000 + i, hot + f" tail {i}") for i in range(5)]
        + [(2000 + i, f"right {i} shows {i * 11}") for i in range(20)],
        ["doc_id", "text"],
    )
    unsalted = sorted(
        (r.left_id, r.right_id)
        for r in jaccard_prefix_join(
            left, right, tau_num=1, tau_den=5, hot_salt=1
        ).collect()
    )
    assert len(unsalted) == 50 * 5
    for salt in (2, 8):
        salted = sorted(
            (r.left_id, r.right_id)
            for r in jaccard_prefix_join(
                left, right, tau_num=1, tau_den=5, hot_salt=salt
            ).collect()
        )
        assert salted == unsalted
    # plan pin: the candidate equi-join includes __blk in its keys.
    # Pinned on the corpus verify scope: under `candidates` (the auto
    # resolution for these RDD-backed inputs, whose size the planner
    # cannot estimate) the candidate subtree executes eagerly behind a
    # localCheckpoint and is invisible to the final plan string — the
    # salt join still runs, inside the checkpointed lineage.
    out = jaccard_prefix_join(
        left, right, tau_num=1, tau_den=5, verify_scope="corpus"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__blk" in plan


def test_contains_join_token_aligned_and_lossless(spark):
    """Verbatim containment: finds planted token-aligned leaks, does
    NOT match raw-character substrings across token boundaries, drops
    sub-shingle-width prompts, and equals the brute-force definition
    on a random-ish corpus."""
    from spark_sorted_spark.functions.dedup import contains_join

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "prefix words then quick brown fox appears here"),
            (3, "concatenated tokens catastrophe avoided"),
            (4, "entirely unrelated content about databases"),
            # multi-space + leading whitespace: tokenization normalizes
            (5, "  the   quick brown fox   jumps again  "),
        ],
        ["doc_id", "text"],
    )
    prompts = spark.createDataFrame(
        [
            (100, "quick brown fox"),          # in 1, 2, 5
            (101, "the lazy dog"),             # in 1
            (102, "tokens cat"),               # char-substring of 3 ONLY across a token boundary -> no match
            (103, "brown fox jumps"),          # in 1 and 5 (not 2)
            (104, "two words"),                # < 3 tokens: excluded
            (105, "absent ngram entirely"),    # nowhere
        ],
        ["doc_id", "text"],
    )
    got = sorted(
        (r.left_id, r.right_id)
        for r in contains_join(corpus, prompts).collect()
    )
    assert got == [
        (1, 100), (1, 101), (1, 103), (2, 100), (5, 100), (5, 103),
    ]

    # brute-force definitional equality on the same inputs
    def toks(s):
        return s.split()

    brute = sorted(
        (c.doc_id, p.doc_id)
        for c in corpus.collect()
        for p in prompts.collect()
        if len(toks(p.text)) >= 3
        and " " + " ".join(toks(p.text)) + " "
        in " " + " ".join(toks(c.text)) + " "
    )
    assert got == brute

    # candidate generation broadcasts the one-probe-per-prompt side:
    # the corpus is never shuffled for candidates. Pinned on the
    # corpus verify scope — under `candidates` (auto for RDD-backed
    # inputs) the candidate subtree executes behind a localCheckpoint
    # and the final plan string no longer shows it.
    plan = (
        contains_join(corpus, prompts, verify_scope="corpus")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_contains_join_short_docs_probe(spark):
    """short_docs='probe': 1-2-token prompts probe by min-corpus-df
    token; default 'drop' excludes them; both equal brute force on
    their respective domains."""
    from spark_sorted_spark.functions.dedup import contains_join

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "beta gamma epsilon"),
            (3, "zeta eta theta"),
        ],
        ["doc_id", "text"],
    )
    prompts = spark.createDataFrame(
        [
            (100, "beta gamma"),   # in 1, 2
            (101, "eta"),          # in 3
            (102, "beta epsilon"), # tokens exist but never contiguous
            (103, "omega"),        # token absent from corpus -> dropped free
            (104, "   "),          # blank: excluded
            (105, "alpha beta gamma"),  # 3 tokens: normal shingle path
        ],
        ["doc_id", "text"],
    )
    dropped = sorted(
        (r.left_id, r.right_id)
        for r in contains_join(corpus, prompts).collect()
    )
    assert dropped == [(1, 105)]  # only the >=3-token prompt survives

    probed = sorted(
        (r.left_id, r.right_id)
        for r in contains_join(corpus, prompts, short_docs="probe").collect()
    )
    assert probed == [(1, 100), (1, 105), (2, 100), (3, 101)]

    import pytest as _pt

    with _pt.raises(ValueError, match="short_docs"):
        contains_join(corpus, prompts, short_docs="bogus")


def test_exact_dedup_normalized_collapses_variants(spark):
    from spark_sorted_spark.functions.dedup import exact_dedup

    df = spark.createDataFrame(
        [
            (1, "Hello, world!"),
            (2, "  hello   world  "),
            (3, 'HELLO "WORLD"'),
            (4, "different doc"),
        ],
        ["doc_id", "text"],
    )
    raw = exact_dedup(df).collect()
    assert sorted(r.n_copies for r in raw) == [1, 1, 1, 1]
    norm = {r.keep_id: r.n_copies for r in exact_dedup(df, normalize=True).collect()}
    assert norm == {1: 3, 4: 1}


def test_contains_join_hypothesis_vs_brute_force(spark):
    """Fuzz both short_docs modes against the Python brute-force
    definition over random small-vocab corpora (small vocab maximizes
    repeated n-grams and containment hits)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_sorted_spark.functions.dedup import contains_join

    word = st.sampled_from(["aa", "bb", "cc", "dd"])
    doc = st.lists(word, min_size=0, max_size=8).map(" ".join)

    @given(
        ldocs=st.lists(doc, min_size=1, max_size=6),
        rdocs=st.lists(doc, min_size=1, max_size=5),
    )
    @settings(max_examples=10, deadline=None)
    def run(ldocs, rdocs):
        left = spark.createDataFrame(
            list(enumerate(ldocs)), "doc_id bigint, text string"
        )
        right = spark.createDataFrame(
            [(100 + i, t) for i, t in enumerate(rdocs)],
            "doc_id bigint, text string",
        )

        def brute(min_toks, max_toks=None):
            out = set()
            for li, lt in enumerate(ldocs):
                for ri, rt in enumerate(rdocs):
                    ntok = len(rt.split())
                    if ntok < min_toks:
                        continue
                    if max_toks is not None and ntok >= max_toks:
                        continue
                    if " " + " ".join(rt.split()) + " " in " " + " ".join(
                        lt.split()
                    ) + " ":
                        out.add((li, 100 + ri))
            return out

        got_drop = {
            (r.left_id, r.right_id)
            for r in contains_join(left, right).collect()
        }
        assert got_drop == brute(3)

        got_probe = {
            (r.left_id, r.right_id)
            for r in contains_join(left, right, short_docs="probe").collect()
        }
        assert got_probe == brute(3) | brute(1, 3)

    run()


def test_ann_pq_indexed_equals_query_form_and_prunes_scan(spark, emb, ro_store):
    """PQ: the persisted-index ADC probe equals the query-time form
    bitwise (same seeded codebooks), and the ADC scan reads the CODE
    column only — the embedding bytes never leave disk (the 16x IO
    story)."""
    from spark_sorted_spark.functions.similarity import (
        ann_pq_topk,
        ann_pq_topk_indexed,
    )

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    base = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    want = [
        (r.vec_id, r.rank, r.adot)
        for r in ann_pq_topk(base, qvec, k=8).collect()
    ]

    path = ro_store("pq")
    probe = ann_pq_topk_indexed(spark, path, qvec, k=8)
    got = [(r.vec_id, r.rank, r.adot) for r in probe.collect()]
    assert got == want

    plan = probe._jdf.queryExecution().executedPlan().toString()
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas and all("embedding" not in l for l in read_schemas)

    # dim mismatch raises instead of computing garbage codes
    with pytest.raises(ValueError, match="dim"):
        ann_pq_topk_indexed(spark, path, qvec[:32], k=8)
    with pytest.raises(ValueError, match="rerank"):
        ann_pq_topk_indexed(spark, path, qvec, k=8, rerank=4)


def test_ann_pq_rerank_finds_exact_duplicate(spark, emb, ro_store):
    """Exact rerank: a query IDENTICAL to a stored vector must return
    that vector at rank 1 with cosine exactly 1.0 (ADC alone only
    guarantees it a top-R candidacy; the exact tail closes it)."""
    from spark_sorted_spark.functions.similarity import ann_pq_topk_indexed

    base = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    target = base.filter(F.col("vec_id") == 77).head()
    qvec = [float(x) for x in target[1]]
    path = ro_store("pq")
    top = ann_pq_topk_indexed(spark, path, qvec, k=3, rerank=100).collect()
    assert top[0].vec_id == 77 and abs(top[0].cos - 1.0) < 1e-12


def test_ann_pq_manifest_commit(spark, emb, tmp_path, ro_store):
    import os

    from spark_sorted_spark.functions.similarity import (
        ann_pq_topk_indexed,
        build_ann_pq_index,
    )

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    base = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    ref = ro_store("pq")
    want = [
        (r.vec_id, r.rank)
        for r in ann_pq_topk_indexed(spark, ref, qvec, k=5).collect()
    ]
    man = str(tmp_path / "pq_man")
    build_ann_pq_index(base, man, commit="manifest")
    assert os.path.exists(f"{man}/_current")
    got = [
        (r.vec_id, r.rank)
        for r in ann_pq_topk_indexed(spark, man, qvec, k=5).collect()
    ]
    assert got == want


def test_ann_pq_index_incremental_append(spark, emb, store_copy):
    """PQ append: new batches encode against the persisted FROZEN
    codebooks in their own idempotent partitions — probe equals the
    query-time form run with the base build's codebooks over the full
    corpus; replay is idempotent; negative batch ids are reserved."""
    from spark_sorted_spark.functions.similarity import (
        ann_pq_topk,
        ann_pq_topk_indexed,
        append_to_ann_pq_index,
        pq_codebooks,
    )

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    half_a = corpus.filter(F.col("vec_id") % 2 == 1)
    half_b = corpus.filter(F.col("vec_id") % 2 == 0)

    inc = store_copy("pq_half", "pq_inc")
    append_to_ann_pq_index(half_b, inc, batch_id=0)

    want = [
        (r.vec_id, r.rank, r.adot)
        for r in ann_pq_topk(
            corpus, qvec, k=6, codebooks=pq_codebooks(half_a)
        ).collect()
    ]
    got = [
        (r.vec_id, r.rank, r.adot)
        for r in ann_pq_topk_indexed(spark, inc, qvec, k=6).collect()
    ]
    assert got == want

    # replay: same partition overwritten, no duplicate rows
    append_to_ann_pq_index(half_b, inc, batch_id=0)
    again = [
        (r.vec_id, r.rank, r.adot)
        for r in ann_pq_topk_indexed(spark, inc, qvec, k=6).collect()
    ]
    assert again == want
    assert spark.read.parquet(f"{inc}/codes").count() == corpus.count()

    with pytest.raises(ValueError, match="reserved"):
        append_to_ann_pq_index(half_b, inc, batch_id=-1)


def test_ann_ivfpq_index_incremental_append(spark, emb, tmp_path, store_copy):
    """IVF-PQ append (completes the composite layout's growing-corpus
    story): new batches encode against the persisted FROZEN centroids
    AND residual codebooks in their own cell-subpartitioned idempotent
    partitions; full probe + corpus-wide exact rerank over the
    incremental index equals brute-force cosine over the union;
    replay is idempotent; negative batch ids reserved; appending to a
    missing index fails loudly."""
    from spark_sorted_spark.functions.similarity import (
        ANN_NLIST,
        ann_ivfpq_join_indexed,
        ann_ivfpq_topk_indexed,
        append_to_ann_ivfpq_index,
        cosine_join,
        cosine_topk,
    )

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    half_a = corpus.filter(F.col("vec_id") % 2 == 1)
    half_b = corpus.filter(F.col("vec_id") % 2 == 0)

    inc = store_copy("ivfpq_half", "ivfpq_inc")
    append_to_ann_ivfpq_index(half_b, inc, batch_id=0)
    # replay: same partition overwritten, no duplicate rows
    append_to_ann_ivfpq_index(half_b, inc, batch_id=0)
    idx = spark.read.parquet(inc)
    assert idx.count() == corpus.count()
    assert idx.select("vec_id").distinct().count() == corpus.count()

    # full probe + corpus-wide exact rerank == brute force on the union
    got = [
        (r.vec_id, r.rank, r.cos)
        for r in ann_ivfpq_topk_indexed(
            spark, inc, qvec, k=5, nprobe=ANN_NLIST, rerank=10**6
        ).collect()
    ]
    want = [
        (r.vec_id, r.rank, r.cos)
        for r in cosine_topk(corpus, qvec, k=5).collect()
    ]
    assert got == want
    # and the batch probe sees appended vectors too
    qdf = spark.createDataFrame(
        [(0, qvec)], "query_id long, query_vec array<double>"
    )
    bgot = sorted(
        (r.query_id, r.vec_id, r.cos, r.rank)
        for r in ann_ivfpq_join_indexed(
            spark, inc, qdf, k=5, nprobe=ANN_NLIST, rerank=10**6
        ).collect()
    )
    bwant = sorted(
        (r.query_id, r.vec_id, r.cos, r.rank)
        for r in cosine_join(corpus, qdf, k=5).collect()
    )
    assert bgot == bwant

    with pytest.raises(ValueError, match="reserved"):
        append_to_ann_ivfpq_index(half_b, inc, batch_id=-1)
    with pytest.raises(Exception, match="centroid|PATH_NOT_FOUND|Path does not exist"):
        append_to_ann_ivfpq_index(half_b, str(tmp_path / "nope"), batch_id=0)


def test_ann_ivfpq_prunes_both_layers_and_reranks_exactly(spark, emb, ro_store):
    """IVF-PQ: the probe must prune BOTH layers — cell directories
    (PartitionFilters) and the embedding column (ReadSchema) — and
    exact rerank must return an identical stored vector at rank 1
    with cosine exactly 1.0 (its own cell is the rank-1 probe by
    construction: assignment is argmax centroid dot)."""
    from spark_sorted_spark.functions.similarity import ann_ivfpq_topk_indexed

    base = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    path = ro_store("ivfpq")

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    probe = ann_ivfpq_topk_indexed(spark, path, qvec, k=5)
    import re

    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[cell#\d+ IN", plan), plan
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas and all("embedding" not in l for l in read_schemas)
    assert probe.count() == 5

    target = base.filter(F.col("vec_id") == 77).head()
    top = ann_ivfpq_topk_indexed(
        spark, path, [float(x) for x in target[1]], k=3, rerank=80
    ).collect()
    assert top[0].vec_id == 77 and abs(top[0].cos - 1.0) < 1e-12

    with pytest.raises(ValueError, match="rerank"):
        ann_ivfpq_topk_indexed(spark, path, qvec, k=8, rerank=4)


def test_filtered_ann_probes(spark, emb, tmp_path):
    """Filtered ANN: indexes built with extra_cols store metadata in
    the index rows; a probe's `where` evaluates INSIDE the pruned scan
    (PushedFilters, pre-filter semantics), so full probe + where ==
    brute force over the filtered corpus — single-query and batch,
    IVF, flat PQ, and IVF-PQ; appends carry the extras through;
    reserved-name extras raise."""
    from spark_sorted_spark.functions.similarity import (
        ANN_NLIST,
        ann_ivf_join_indexed,
        ann_ivf_topk_indexed,
        ann_ivfpq_topk_indexed,
        ann_pq_topk_indexed,
        append_to_ann_ivf_index,
        build_ann_ivf_index,
        build_ann_ivfpq_index,
        build_ann_pq_index,
        cosine_join,
        cosine_topk,
    )

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    corpus = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", "embedding", "label"
    )
    filt = corpus.filter(F.col("label") == 5)

    ivf = str(tmp_path / "ivf_meta")
    build_ann_ivf_index(corpus, ivf, extra_cols=("label",))
    got = [
        (r.vec_id, r.rank, r.cos)
        for r in ann_ivf_topk_indexed(
            spark, ivf, qvec, k=5, nprobe=ANN_NLIST, where="label = 5"
        ).collect()
    ]
    want = [
        (r.vec_id, r.rank, r.cos)
        for r in cosine_topk(filt, qvec, k=5).collect()
    ]
    assert got == want and got
    # the predicate reaches the scan (pushed, not post-filtered)
    probe = ann_ivf_topk_indexed(
        spark, ivf, qvec, k=5, nprobe=ANN_NLIST, where="label = 5"
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "label" in plan
    # batch form, Column predicate
    qdf = spark.createDataFrame(
        [(0, qvec)], "query_id long, query_vec array<double>"
    )
    bgot = sorted(
        (r.query_id, r.vec_id, r.cos, r.rank)
        for r in ann_ivf_join_indexed(
            spark, ivf, qdf, k=5, nprobe=ANN_NLIST,
            where=F.col("label") == 5,
        ).collect()
    )
    bwant = sorted(
        (r.query_id, r.vec_id, r.cos, r.rank)
        for r in cosine_join(filt, qdf, k=5).collect()
    )
    assert bgot == bwant
    # appends introspect the persisted schema and carry the extras
    ivf_inc = str(tmp_path / "ivf_meta_inc")
    build_ann_ivf_index(
        corpus.filter(F.col("vec_id") % 2 == 1), ivf_inc,
        extra_cols=("label",),
    )
    append_to_ann_ivf_index(
        corpus.filter(F.col("vec_id") % 2 == 0), ivf_inc, batch_id=0
    )
    inc = spark.read.parquet(ivf_inc)
    assert "label" in inc.columns
    assert inc.filter(F.col("label").isNull()).count() == 0
    assert inc.count() == corpus.count()
    # a batch MISSING the extra fails loudly instead of writing nulls
    with pytest.raises(Exception, match="label|UNRESOLVED_COLUMN"):
        append_to_ann_ivf_index(
            corpus.select("vec_id", "embedding"), ivf_inc, batch_id=1
        )

    # flat PQ: where + corpus-wide rerank == exact over filtered set
    pq = str(tmp_path / "pq_meta")
    build_ann_pq_index(corpus, pq, extra_cols=("label",))
    pgot = [
        (r.vec_id, r.rank, r.cos)
        for r in ann_pq_topk_indexed(
            spark, pq, qvec, k=5, rerank=10**6, where="label = 5"
        ).collect()
    ]
    assert pgot == want

    # IVF-PQ: full probe + where + corpus-wide rerank == exact
    ivfpq = str(tmp_path / "ivfpq_meta")
    build_ann_ivfpq_index(corpus, ivfpq, extra_cols=("label",))
    cgot = [
        (r.vec_id, r.rank, r.cos)
        for r in ann_ivfpq_topk_indexed(
            spark, ivfpq, qvec, k=5, nprobe=ANN_NLIST, rerank=10**6,
            where="label = 5",
        ).collect()
    ]
    assert cgot == want

    with pytest.raises(ValueError, match="collide"):
        build_ann_ivf_index(corpus, str(tmp_path / "bad"), extra_cols=("cell",))


def test_index_stats_report(spark, emb, docs, tmp_path, ro_store, store_copy):
    """Index health reports: ann_index_stats rows sum to the stored
    row count, expose the batch partitioning, and autodetect the
    layout; bm25_index_stats covers postings AND df deltas."""
    from spark_sorted_spark.functions.retrieval import (
        append_to_bm25_index,
        bm25_index_stats,
    )
    from spark_sorted_spark.functions.similarity import (
        ann_index_stats,
        append_to_ann_ivf_index,
    )

    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    half_a = corpus.filter(F.col("vec_id") % 2 == 1)
    half_b = corpus.filter(F.col("vec_id") % 2 == 0)

    ivf = store_copy("ivf_half", "ivf")
    append_to_ann_ivf_index(half_b, ivf, batch_id=0)
    st = ann_index_stats(spark, ivf).collect()
    assert sum(r.n for r in st) == corpus.count()
    assert {r.ingest_batch_id for r in st} == {-1, 0}
    assert all(r.unit is not None for r in st)

    pq = ro_store("pq_half")
    pst = ann_index_stats(spark, pq).collect()
    assert sum(r.n for r in pst) == half_a.count()
    assert all(r.unit is None for r in pst)

    bm25 = store_copy("bm25_half", "bm25")
    d = docs.select("doc_id", "text")
    append_to_bm25_index(
        d.filter(F.col("doc_id") % 2 == 0), bm25, batch_id=0
    )
    bst = bm25_index_stats(spark, bm25).collect()
    tables = {r.table for r in bst}
    assert tables == {"postings", "dft"}
    assert {r.ingest_batch_id for r in bst} == {-1, 0}
    n_postings = sum(r.n for r in bst if r.table == "postings")
    assert n_postings == spark.read.parquet(f"{bm25}/postings").count()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no batch partitions"):
        ann_index_stats(spark, str(tmp_path / "missing"))


def test_ivf_builds_auto_size_nlist(spark, emb, tmp_path):
    """nlist=None auto-sizes cells to ceil(n/target_cell) (the
    semantic_dedup rule) for both IVF and IVF-PQ builds; the fixed
    constant stays the default so gated constructions remain
    oracle-replayable."""
    from spark_sorted_spark.functions.similarity import (
        ann_ivf_topk_indexed,
        ann_ivfpq_topk_indexed,
        build_ann_ivf_index,
        build_ann_ivfpq_index,
    )

    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    n = corpus.count()
    want_cells = -(-n // 100)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]

    ivf = str(tmp_path / "ivf_auto")
    build_ann_ivf_index(corpus, ivf, nlist=None, target_cell=100)
    cents = spark.read.parquet(f"{ivf}/_centroids")
    assert cents.count() == want_cells
    assert ann_ivf_topk_indexed(spark, ivf, qvec, k=5).count() == 5

    ivfpq = str(tmp_path / "ivfpq_auto")
    build_ann_ivfpq_index(corpus, ivfpq, nlist=None, target_cell=100)
    meta = spark.read.parquet(f"{ivfpq}/_pq_meta").collect()[0]
    assert int(meta.nlist) == want_cells
    assert ann_ivfpq_topk_indexed(spark, ivfpq, qvec, k=5).count() == 5


def test_ann_probe_before_batch_fence(spark, emb, tmp_path, store_copy):
    """before_batch fences an ANN probe to partitions written before
    the given batch id — the BM25 probes' time-travel contract on the
    dense side: a fenced probe equals a probe of an index that only
    ever received the earlier batches (same frozen quantizers, so
    bitwise)."""
    import shutil

    from spark_sorted_spark.functions.similarity import (
        ANN_NLIST,
        ann_ivfpq_topk_indexed,
        ann_lsh_topk_indexed,
        append_to_ann_ivfpq_index,
        append_to_ann_lsh_index,
        build_ann_lsh_index,
    )

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    base = corpus.filter(F.col("vec_id") % 3 == 0)
    b0 = corpus.filter(F.col("vec_id") % 3 == 1)
    b1 = corpus.filter(F.col("vec_id") % 3 == 2)

    full = store_copy("ivfpq_third", "ivfpq_full")
    append_to_ann_ivfpq_index(b0, full, batch_id=0)
    # ref = base + b0 only: a byte copy of `full` at this point
    ref = str(tmp_path / "ivfpq_ref")
    shutil.copytree(full, ref)
    append_to_ann_ivfpq_index(b1, full, batch_id=1)

    def probe(p, **kw):
        return [
            (r.vec_id, r.rank, r.cos)
            for r in ann_ivfpq_topk_indexed(
                spark, p, qvec, k=5, nprobe=ANN_NLIST, rerank=10**6, **kw
            ).collect()
        ]

    assert probe(full, before_batch=1) == probe(ref)
    assert probe(full, before_batch=0) == probe(ref, before_batch=0)
    # the fence genuinely excludes the later batch (id-set check is
    # robust even if b1 held no top-5 hits)
    ids_fenced = {
        r.vec_id
        for r in ann_ivfpq_topk_indexed(
            spark, full, qvec, k=10**6, nprobe=ANN_NLIST, before_batch=1
        ).collect()
    }
    b1_ids = {r.vec_id for r in b1.collect()}
    assert not (ids_fenced & b1_ids)
    assert ids_fenced == {r.vec_id for r in base.unionByName(b0).collect()}

    # LSH twin, same contract
    lf = str(tmp_path / "lsh_full")
    build_ann_lsh_index(base, lf)
    append_to_ann_lsh_index(b0, lf, batch_id=0)
    append_to_ann_lsh_index(b1, lf, batch_id=1)
    lids = {
        r.vec_id
        for r in ann_lsh_topk_indexed(
            spark, lf, qvec, k=10**6, before_batch=1
        ).collect()
    }
    assert not (lids & b1_ids)


def test_compact_ann_index_all_layouts(spark, emb, tmp_path, store_copy):
    """ANN index compaction: batch partitions collapse to the base,
    probes stay bitwise identical, metadata and the stream marker
    survive — flat PQ (codes subdir), IVF, IVF-PQ (rename layout),
    IVF-SQ8, LSH, and a manifest-layout IVF-PQ publishing a new
    generation."""
    import os

    from spark_sorted_spark.functions.similarity import (
        _list_batch_dirs,
        ann_ivf_topk_indexed,
        ann_ivfpq_topk_indexed,
        ann_ivfsq8_topk_indexed,
        ann_lsh_topk_indexed,
        ann_pq_topk_indexed,
        append_to_ann_ivf_index,
        append_to_ann_ivfpq_index,
        append_to_ann_ivfsq8_index,
        append_to_ann_lsh_index,
        append_to_ann_pq_index,
        compact_ann_index,
    )

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    half_b = corpus.filter(F.col("vec_id") % 2 == 0)

    def roundtrip(kind, base, append, probe, data_sub=""):
        # base: the shared half-corpus build, copied
        p = store_copy(base, kind)
        append(half_b, p, batch_id=0)
        before = probe(p)
        compact_ann_index(spark, p)
        assert probe(p) == before
        droot = f"{p}/{data_sub}" if data_sub else p
        assert _list_batch_dirs(spark, droot) == ["ingest_batch_id=-1"]
        assert not os.path.exists(f"{droot}.old_batches")
        assert not os.path.exists(f"{droot}.compacting")

    roundtrip(
        "pq",
        "pq_half",
        append_to_ann_pq_index,
        lambda p: [
            (r.vec_id, r.rank, r.adot)
            for r in ann_pq_topk_indexed(spark, p, qvec, k=6).collect()
        ],
        data_sub="codes",
    )
    roundtrip(
        "ivf",
        "ivf_half",
        append_to_ann_ivf_index,
        lambda p: [
            (r.vec_id, r.rank, r.cos)
            for r in ann_ivf_topk_indexed(spark, p, qvec, k=6).collect()
        ],
    )
    roundtrip(
        "ivfpq",
        "ivfpq_half",
        append_to_ann_ivfpq_index,
        lambda p: [
            (r.vec_id, r.rank, r.adot)
            for r in ann_ivfpq_topk_indexed(spark, p, qvec, k=6).collect()
        ],
    )
    roundtrip(
        "ivfsq8",
        "sq8_half",
        append_to_ann_ivfsq8_index,
        lambda p: [
            (r.vec_id, r.rank, r.acos)
            for r in ann_ivfsq8_topk_indexed(spark, p, qvec, k=6).collect()
        ],
    )
    roundtrip(
        "lsh",
        "lsh_half",
        lambda d, p, batch_id: append_to_ann_lsh_index(d, p, batch_id=batch_id),
        lambda p: [
            (r.vec_id, r.rank, r.cos)
            for r in ann_lsh_topk_indexed(spark, p, qvec, k=6).collect()
        ],
    )

    # manifest layout: compaction publishes a new generation and
    # carries the stream marker
    from spark_sorted_spark.streaming.ingest import _read_text, _write_text

    man = store_copy("ivfpq_half_manifest", "ivfpq_man")
    append_to_ann_ivfpq_index(half_b, man, batch_id=0)
    from spark_sorted_spark.sources.manifest import resolve_root

    _write_text(spark, f"{resolve_root(spark, man)}/_ingest_stream", '{"id": "x", "base": 1}')
    before = [
        (r.vec_id, r.rank, r.adot)
        for r in ann_ivfpq_topk_indexed(spark, man, qvec, k=6).collect()
    ]
    gen_before = resolve_root(spark, man)
    compact_ann_index(spark, man)
    gen_after = resolve_root(spark, man)
    assert gen_after != gen_before
    got = [
        (r.vec_id, r.rank, r.adot)
        for r in ann_ivfpq_topk_indexed(spark, man, qvec, k=6).collect()
    ]
    assert got == before
    assert _list_batch_dirs(spark, gen_after) == ["ingest_batch_id=-1"]
    assert _read_text(spark, f"{gen_after}/_ingest_stream") == '{"id": "x", "base": 1}'

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no batch partitions"):
        compact_ann_index(spark, str(tmp_path / "missing"))


def test_ann_ivfpq_manifest_commit(spark, emb, tmp_path, ro_store):
    import os

    from spark_sorted_spark.functions.similarity import (
        ann_ivfpq_topk_indexed,
        build_ann_ivfpq_index,
    )

    base = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    ref = ro_store("ivfpq")
    want = [
        (r.vec_id, r.rank, r.adot)
        for r in ann_ivfpq_topk_indexed(spark, ref, qvec, k=5).collect()
    ]
    man = str(tmp_path / "ivfpq_man")
    build_ann_ivfpq_index(base, man, commit="manifest")
    assert os.path.exists(f"{man}/_current")
    got = [
        (r.vec_id, r.rank, r.adot)
        for r in ann_ivfpq_topk_indexed(spark, man, qvec, k=5).collect()
    ]
    assert got == want


# ---------------------------------------------------------------------------
# Exact repeated-substring dedup (Lee et al. 2022 ExactSubstr as
# duplicated min_len-token windows + island merge)
# ---------------------------------------------------------------------------


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_repeated_spans_recovers_exact_planted_extent(spark):
    from spark_sorted_spark.functions.dedup import repeated_spans

    phrase = " ".join(f"p{i}" for i in range(1, 11))  # 10 tokens
    df = _mk_docs(
        spark,
        [
            (1, f"a b {phrase} c d"),  # phrase at tokens 3..12
            (2, f"{phrase} x y z"),  # phrase at tokens 1..10
            (3, "u1 u2 u3 u4 u5 u6 u7 u8"),  # all-unique noise
        ],
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_windows)
        for r in repeated_spans(df, min_len=4).collect()
    }
    # a 10-token repeat yields 10-4+1=7 consecutive duplicated windows
    # merging to EXACTLY the phrase extent — boundary-crossing windows
    # ("b p1 p2 p3") occur once and must not widen the span
    assert got == {(1, 3, 12, 7), (2, 1, 10, 7)}


def test_repeated_spans_counts_intra_document_repeats(spark):
    from spark_sorted_spark.functions.dedup import repeated_spans

    # the repeat lives TWICE inside one document (suffix-array
    # semantics: any two occurrences count, same doc or not)
    df = _mk_docs(spark, [(1, "r1 r2 r3 r4 mid1 mid2 r1 r2 r3 r4")])
    got = {
        (r.span_start, r.span_end)
        for r in repeated_spans(df, min_len=4).collect()
    }
    assert got == {(1, 4), (7, 10)}


def test_repeated_spans_min_count_three(spark):
    from spark_sorted_spark.functions.dedup import repeated_spans

    pair = "q1 q2 q3 q4"
    df = _mk_docs(
        spark,
        [
            (1, f"{pair} a1"),
            (2, f"{pair} a2"),
            (3, "t1 t2 t3 t4 t5"),
        ],
    )
    # two occurrences corpus-wide: flagged at min_count=2, not at 3
    assert repeated_spans(df, min_len=4, min_count=2).count() == 2
    assert repeated_spans(df, min_len=4, min_count=3).count() == 0


def test_repeated_spans_validation(spark):
    from spark_sorted_spark.functions.dedup import (
        remove_repeated_spans,
        repeated_spans,
    )

    df = _mk_docs(spark, [(1, "x y")])
    with pytest.raises(ValueError, match="min_len"):
        repeated_spans(df, min_len=0)
    with pytest.raises(ValueError, match="min_count"):
        repeated_spans(df, min_count=1)
    with pytest.raises(ValueError, match="min_len"):
        remove_repeated_spans(df, min_len=0)
    with pytest.raises(ValueError, match="min_count"):
        remove_repeated_spans(df, min_count=1)


def test_remove_repeated_spans_keeps_one_canonical_copy(spark):
    from spark_sorted_spark.functions.dedup import remove_repeated_spans

    ten = " ".join(f"w{i}" for i in range(1, 11))
    df = _mk_docs(
        spark,
        [
            (1, ten),  # canonical — survives whole
            (2, ten),  # exact copy — cleans to ''
            (3, f"{ten} t1 t2 t3"),  # prefix repeat cut, unique tail kept
            (4, "s1 s2"),  # shorter than min_len — untouched
        ],
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_tokens_kept, r.text_clean)
        for r in remove_repeated_spans(df, min_len=4).collect()
    }
    assert got[1] == (10, 10, ten)
    assert got[2] == (10, 0, "")
    assert got[3] == (13, 3, "t1 t2 t3")
    assert got[4] == (2, 2, "s1 s2")


def test_remove_repeated_spans_document_dedup_special_case(spark, docs):
    """On a corpus with planted exact copies, document-level exact
    dedup falls out: every doc either survives whole or cleans to ''.
    Cross-checks kept-token totals against exact_dedup's group map."""
    from spark_sorted_spark.functions.dedup import (
        exact_dedup,
        remove_repeated_spans,
    )

    base = docs.select("doc_id", "text").limit(60)
    out = remove_repeated_spans(base, min_len=8)
    cleaned = {r.doc_id: r for r in out.collect()}
    # docs shorter than min_len can never be cut
    for r in cleaned.values():
        if r.n_tokens < 8:
            assert r.n_tokens_kept == r.n_tokens
    # the planted exact-copy groups: every non-keeper with an exact
    # twin loses ALL tokens (its whole body repeats), keepers keep all
    # (keeper = exact_dedup's min-id pick, the same canonical order)
    keep = {r.keep_id for r in exact_dedup(base).collect()}
    groups = {}
    for row in base.collect():
        groups.setdefault(row.text, []).append(row.doc_id)
    for text, ids in groups.items():
        if len(ids) < 2 or len(text.split()) < 8:
            continue
        ids = sorted(ids)
        assert ids[0] in keep
        assert cleaned[ids[0]].n_tokens_kept == cleaned[ids[0]].n_tokens
        for other in ids[1:]:
            assert cleaned[other].n_tokens_kept == 0


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): cluster-then-dedup over embeddings
# ---------------------------------------------------------------------------


def _semdedup_ref(rows, tau, nlist):
    """Pure-Python replica of semantic_dedup's contract: seeded
    centroids (smallest (md5(id), id)), max-dot cell (lowest-cell tie),
    per-cell rank by cos-to-centroid ASC then id, removed iff an
    earlier-ranked cellmate has cos >= tau."""
    import hashlib
    import math

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    seeded = sorted(
        rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0])
    )[:nlist]
    cents = [v for _vid, v in seeded]
    out = {}
    assign = {}
    for vid, v in rows:
        best, bd = 0, dot(v, cents[0])
        for i in range(1, len(cents)):
            d = dot(v, cents[i])
            if d > bd:
                best, bd = i, d
        assign[vid] = best
    for cell in set(assign.values()):
        mem = sorted(
            ((vid, v) for vid, v in rows if assign[vid] == cell),
            key=lambda t: (cos(t[1], cents[cell]), t[0]),
        )
        for i, (vid, v) in enumerate(mem):
            removed = any(cos(v, mem[j][1]) >= tau for j in range(i))
            out[vid] = (cell, i + 1, 0 if removed else 1)
    return out


def test_semantic_dedup_matches_reference_replica(spark):
    import random

    from spark_sorted_spark.functions.similarity import semantic_dedup

    rng = random.Random(20260815)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(40)
    ]
    # planted exact duplicates — cos 1.0, must dedup within their cell
    rows += [(100 + i, list(rows[i][1])) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: (r.cell, r.cent_rank, r.is_kept)
        for r in semantic_dedup(df, tau=0.8, nlist=4).collect()
    }
    assert got == _semdedup_ref(rows, 0.8, 4)
    # every planted identical pair lost exactly one member
    for i in range(4):
        assert got[i][2] + got[100 + i][2] == 1


def test_semantic_dedup_keeps_furthest_from_centroid(spark):
    """The paper's keep="hard" pick: of an identical pair, the
    survivor is the one ranked FIRST by ascending cos-to-centroid —
    with equal vectors the tiebreak is the lower id."""
    from spark_sorted_spark.functions.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: (r.cent_rank, r.is_kept)
        for r in semantic_dedup(df, tau=0.99, nlist=1).collect()
    }
    kept = {vid for vid, (_r, k) in got.items() if k == 1}
    assert 3 in kept  # orthogonal to the pair, never removed
    assert len(kept & {1, 2}) == 1  # exactly one twin survives


def test_semantic_dedup_zero_norm_contract(spark):
    """ADVICE r9: zero-norm embeddings have no defined cosine — pre-fix
    they produced NaN/NULL cos_cent (rank desync vs the oracle's NULLS
    LAST) and could never be removed nor remove others via a
    never-true NaN pair test. Contract: always kept, sentinel
    cell -1 / cent_rank 0, and the REAL vectors' cells/ranks/removals
    are exactly what they'd be with the zero vectors absent."""
    from spark_sorted_spark.functions.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    zeros = [(7, [0.0, 0.0, 0.0]), (8, [0.0, 0.0, 0.0])]
    mk = lambda r: spark.createDataFrame(  # noqa: E731
        r, "vec_id long, embedding array<double>"
    )
    got = {
        r.vec_id: (r.cell, r.cent_rank, r.is_kept)
        for r in semantic_dedup(mk(rows + zeros), tau=0.99, nlist=1).collect()
    }
    # zero-norm rows: always kept, sentinel cell/rank
    assert got[7] == (-1, 0, 1) and got[8] == (-1, 0, 1)
    # the real rows are unaffected by the zero vectors' presence
    want = {
        r.vec_id: (r.cell, r.cent_rank, r.is_kept)
        for r in semantic_dedup(mk(rows), tau=0.99, nlist=1).collect()
    }
    assert {k: v for k, v in got.items() if k in want} == want
    assert got[1][2] + got[2][2] == 1  # the twin pair still dedups


def test_semantic_dedup_validation(spark):
    from spark_sorted_spark.functions.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="nlist"):
        semantic_dedup(df, nlist=0)
    with pytest.raises(ValueError, match="tau"):
        semantic_dedup(df, tau=0.0)
    with pytest.raises(ValueError, match="tau"):
        semantic_dedup(df, tau=1.5)


def test_semantic_dedup_auto_nlist_matches_explicit(spark):
    """nlist=None auto-sizes to ceil(n / target_cell) — pinned by
    equality with the explicit construction (44 rows, target 11 -> 4
    cells), so the linear-scale default can't silently drift."""
    import random

    from spark_sorted_spark.functions.similarity import semantic_dedup

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(44)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    auto = {
        tuple(r)
        for r in semantic_dedup(df, tau=0.8, target_cell=11).collect()
    }
    explicit = {
        tuple(r) for r in semantic_dedup(df, tau=0.8, nlist=4).collect()
    }
    assert auto == explicit


def test_clean_against_gram_store_matches_one_shot(spark, docs, tmp_path):
    """The incremental contract: with batch ids above every corpus id,
    clean_against_gram_store(batch) == remove_repeated_spans(corpus
    UNION batch) restricted to batch rows — across appends, replay,
    the before_batch fence, and compaction."""
    from spark_sorted_spark.functions.dedup import (
        append_to_gram_store,
        build_gram_store,
        clean_against_gram_store,
        compact_gram_store,
        remove_repeated_spans,
    )

    corpus = docs.select("doc_id", "text").limit(40)
    rows = corpus.collect()
    base_max = max(r.doc_id for r in rows)
    sample = rows[0].text
    toks = sample.split()
    batch1 = spark.createDataFrame(
        [
            (base_max + 1, sample),  # exact copy of a corpus doc
            (base_max + 2, " ".join(toks[:12]) + " z1 z2 z3"),  # prefix leak
            (base_max + 3, "q1 q2 q3 q4 q5 q6 q7 q8 q9"),  # unique
        ],
        ["doc_id", "text"],
    )
    batch2 = spark.createDataFrame(
        [
            (base_max + 11, sample),  # copies corpus AND batch1's copy
            (base_max + 12, "q1 q2 q3 q4 q5 q6 q7 q8 q9"),  # copies batch1
            (base_max + 13, "s1 s2"),  # under the window width
        ],
        ["doc_id", "text"],
    )

    def snap(out_df):
        return {
            r.doc_id: (r.n_tokens, r.n_tokens_kept, r.text_clean)
            for r in out_df.select(
                "doc_id", "n_tokens", "n_tokens_kept", "text_clean"
            ).collect()
        }

    def one_shot(*frames):
        union = corpus
        for f in frames:
            union = union.unionByName(f)
        batch_ids = {r.doc_id for r in frames[-1].collect()}
        return {
            k: v
            for k, v in snap(remove_repeated_spans(union, min_len=8)).items()
            if k in batch_ids
        }

    path = str(tmp_path / "gram_store")
    build_gram_store(corpus, path, min_len=8)
    got1 = snap(clean_against_gram_store(batch1, path))
    assert got1 == one_shot(batch1)

    append_to_gram_store(batch1, path, batch_id=1)
    # replay idempotence: re-appending the same batch overwrites its
    # own partition, so batch2's view is unchanged
    append_to_gram_store(batch1, path, batch_id=1)
    got2 = snap(clean_against_gram_store(batch2, path))
    assert got2 == one_shot(batch1, batch2)

    # the replay fence: batch1 re-cleaned as a re-delivery must see
    # exactly the pre-batch store state, not its own append
    refenced = snap(clean_against_gram_store(batch1, path, before_batch=1))
    assert refenced == got1

    compact_gram_store(spark, path)
    assert snap(clean_against_gram_store(batch2, path)) == got2


def test_gram_store_guards(spark, tmp_path):
    from spark_sorted_spark.functions.dedup import (
        append_to_gram_store,
        build_gram_store,
        clean_against_gram_store,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i")], ["doc_id", "text"]
    )
    path = str(tmp_path / "gs")
    build_gram_store(df, path, min_len=8)
    with pytest.raises(ValueError, match="min_len=8"):
        append_to_gram_store(df, path, min_len=4)
    with pytest.raises(ValueError, match="batch_id"):
        append_to_gram_store(df, path, batch_id=-1)
    with pytest.raises(ValueError, match="min_count"):
        clean_against_gram_store(df, path, min_count=1)


def test_repeated_spans_hypothesis_vs_brute_force(spark):
    """Fuzz detection AND removal against the Python brute-force
    definition over random small-vocab corpora (small vocab maximizes
    duplicated windows, overlaps, and intra-document repeats)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_sorted_spark.functions.dedup import (
        remove_repeated_spans,
        repeated_spans,
    )

    L = 3
    word = st.sampled_from(["aa", "bb", "cc"])
    doc = st.lists(word, min_size=1, max_size=10).map(" ".join)

    def brute(docs):
        from collections import Counter

        cnt = Counter()
        wins = {}
        for did, text in docs:
            toks = text.split()
            wins[did] = [
                (i + 1, " ".join(toks[i : i + L]))
                for i in range(len(toks) - L + 1)
            ]
            for _p, g in wins[did]:
                cnt[g] += 1
        # canonical occurrence per duplicated gram: min (id, pos)
        canon = {}
        for did in sorted(wins):
            for p, g in wins[did]:
                if cnt[g] >= 2 and g not in canon:
                    canon[g] = (did, p)

        def islands(flagged):
            spans, cur = [], None
            for p in sorted(flagged):
                if cur and p <= cur[1] + L:
                    cur = (cur[0], p, cur[2] + 1)
                else:
                    if cur:
                        spans.append(cur)
                    cur = (p, p, 1)
            if cur:
                spans.append(cur)
            return [(s, e + L - 1, n) for s, e, n in spans]

        det, cleaned = set(), {}
        for did, text in docs:
            toks = text.split()
            dup_pos = [p for p, g in wins[did] if cnt[g] >= 2]
            for s, e, n in islands(dup_pos):
                det.add((did, s, e, n))
            marked = [
                p
                for p, g in wins[did]
                if cnt[g] >= 2 and canon[g] != (did, p)
            ]
            cut = set()
            for s, e, _n in islands(marked):
                cut.update(range(s, e + 1))
            kept = [t for i, t in enumerate(toks, 1) if i not in cut]
            cleaned[did] = (len(toks), len(kept), " ".join(kept))
        return det, cleaned

    @given(docs=st.lists(doc, min_size=1, max_size=7))
    @settings(max_examples=10, deadline=None)
    def run(docs):
        rows = list(enumerate(docs))
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        want_det, want_clean = brute(rows)
        got_det = {
            (r.doc_id, r.span_start, r.span_end, r.n_windows)
            for r in repeated_spans(df, min_len=L).collect()
        }
        assert got_det == want_det
        got_clean = {
            r.doc_id: (r.n_tokens, r.n_tokens_kept, r.text_clean)
            for r in remove_repeated_spans(df, min_len=L).collect()
        }
        assert got_clean == want_clean

    run()


def test_semantic_dedup_lloyd_path_is_valid_partition(spark):
    """lloyd_iters > 0 (non-deterministic float means) must still
    return a VALID result: every id exactly once, ranks a permutation
    of 1..|cell| within each cell, kept flags boolean, and every
    removed id justified by a kept-or-earlier neighbor in its cell."""
    import random

    from spark_sorted_spark.functions.similarity import semantic_dedup

    rng = random.Random(99)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, tau=0.9, nlist=4, lloyd_iters=2).collect()
    assert sorted(r.vec_id for r in out) == list(range(50))
    by_cell = {}
    for r in out:
        assert r.is_kept in (0, 1)
        by_cell.setdefault(r.cell, []).append(r.cent_rank)
    for ranks in by_cell.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


# ---------------------------------------------------------------------------
# IVF-SQ8 persisted index (round 12) — the fifth ANN layout: IVF cell
# pruning over per-vector int8 scalar-quantized codes. The probe's
# reconstructed-cosine semantics are pinned against the composable
# quantize/dequantize column ops; the full lifecycle (append, fence,
# batch join, filtered probe, rerank) mirrors the IVF/IVF-PQ twins.
# ---------------------------------------------------------------------------


def test_ann_ivfsq8_probe_matches_reconstructed_cosine(spark, emb, ro_store):
    """With nprobe = nlist the probe ranks the WHOLE corpus by cosine
    over the reconstructed (dequantized) vectors — bitwise equal to
    composing quantize -> dequantize -> cosine_topk, because the index
    stores exactly the quantize_embeddings codes and the probe inlines
    the dequantize_embeddings transform."""
    from spark_sorted_spark.functions.similarity import (
        ANN_NLIST,
        ann_ivfsq8_topk_indexed,
        cosine_topk,
        dequantize_embeddings,
        quantize_embeddings,
    )

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    p = ro_store("sq8")
    got = [
        (r.vec_id, r.rank, r.acos)
        for r in ann_ivfsq8_topk_indexed(
            spark, p, qvec, k=10, nprobe=ANN_NLIST
        ).collect()
    ]
    dec = dequantize_embeddings(quantize_embeddings(corpus))
    want = [
        (r.vec_id, r.rank, r.cos)
        for r in cosine_topk(dec, qvec, k=10).collect()
    ]
    assert got == want


def test_ann_ivfsq8_rerank_matches_exact_cosine(spark, emb, ro_store):
    """rerank=R re-ranks by exact cosine over the TRUE embeddings; at
    full probe depth with R >= corpus the result equals brute-force
    cosine_topk bitwise (the same guarantee the IVF-PQ rerank pins)."""
    from spark_sorted_spark.functions.similarity import (
        ANN_NLIST,
        ann_ivfsq8_topk_indexed,
        cosine_topk,
    )

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    p = ro_store("sq8")
    n = corpus.count()
    got = [
        (r.vec_id, r.rank, r.cos)
        for r in ann_ivfsq8_topk_indexed(
            spark, p, qvec, k=10, nprobe=ANN_NLIST, rerank=n
        ).collect()
    ]
    want = [
        (r.vec_id, r.rank, r.cos)
        for r in cosine_topk(corpus, qvec, k=10).collect()
    ]
    assert got == want
    # and the approximate scores sit within the SQ8 error envelope of
    # the exact ones: reconstruction error <= scale/2 per dimension
    # keeps cosine within ~1e-2 at dim 64 on unit-scale data
    approx = {
        r.vec_id: r.acos
        for r in ann_ivfsq8_topk_indexed(
            spark, p, qvec, k=10, nprobe=ANN_NLIST
        ).collect()
    }
    exact = {r.vec_id: r.cos for r in cosine_topk(corpus, qvec, k=10).collect()}
    for vid, cos in exact.items():
        if vid in approx:
            assert abs(approx[vid] - cos) < 2e-2


def test_ann_ivfsq8_join_matches_single_probe_loop(spark, emb, ro_store):
    from spark_sorted_spark.functions.similarity import (
        ann_ivfsq8_join_indexed,
        ann_ivfsq8_topk_indexed,
    )

    p = ro_store("sq8")
    qs = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.limit(4).collect()
    ]
    qdf = spark.createDataFrame(qs, "query_id bigint, query_vec array<double>")
    batch = ann_ivfsq8_join_indexed(spark, p, qdf, k=5, nprobe=4).collect()
    for qid, qv in qs:
        single = [
            (r.vec_id, r.rank, r.acos)
            for r in ann_ivfsq8_topk_indexed(
                spark, p, qv, k=5, nprobe=4
            ).collect()
        ]
        got = sorted(
            [(r.vec_id, r.rank, r.acos) for r in batch if r.query_id == qid],
            key=lambda t: t[1],
        )
        assert got == single
    with pytest.raises(ValueError, match="query batch is empty"):
        ann_ivfsq8_join_indexed(spark, p, qdf.filter(F.lit(False)), k=5)


def test_ann_ivfsq8_append_fence_and_filtered_probe(spark, emb, tmp_path):
    from spark_sorted_spark.functions.similarity import (
        ANN_NLIST,
        ann_ivfsq8_topk_indexed,
        append_to_ann_ivfsq8_index,
        build_ann_ivfsq8_index,
    )

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]
    corpus = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", "embedding", "label"
    )
    p = str(tmp_path / "sq8")
    build_ann_ivfsq8_index(corpus, p, extra_cols=("label",))
    # filtered probe: predicate evaluates inside the pruned scan;
    # every hit satisfies it
    lab = emb.filter(F.col("vec_id") != 0).head().label
    hits = ann_ivfsq8_topk_indexed(
        spark, p, qvec, k=5, nprobe=ANN_NLIST, where=f"label = '{lab}'"
    ).collect()
    assert hits
    labels = {
        r.label
        for r in spark.read.parquet(p)
        .filter(F.col("vec_id").isin([h.vec_id for h in hits]))
        .collect()
    }
    assert labels == {lab}
    # append the held-out query vector; the unfenced probe finds it
    # first (cos=1 with itself), the fenced probe does not see it
    append_to_ann_ivfsq8_index(
        emb.filter(F.col("vec_id") == 0).select(
            "vec_id", "embedding", "label"
        ),
        p,
        batch_id=0,
    )
    unfenced = ann_ivfsq8_topk_indexed(
        spark, p, qvec, k=3, nprobe=ANN_NLIST
    ).collect()
    fenced = ann_ivfsq8_topk_indexed(
        spark, p, qvec, k=3, nprobe=ANN_NLIST, before_batch=0
    ).collect()
    assert unfenced[0].vec_id == 0
    assert all(r.vec_id != 0 for r in fenced)
    # idempotent replay: overwriting the same batch does not duplicate
    append_to_ann_ivfsq8_index(
        emb.filter(F.col("vec_id") == 0).select(
            "vec_id", "embedding", "label"
        ),
        p,
        batch_id=0,
    )
    assert (
        spark.read.parquet(p).filter(F.col("vec_id") == 0).count() == 1
    )


# (ro_store kind, probe, batch form, takes nprobe, takes rerank)
_INDEXED_PROBES = [
    ("lsh", "ann_lsh_topk_indexed", False, False, False),
    ("ivf", "ann_ivf_topk_indexed", False, True, False),
    ("pq", "ann_pq_topk_indexed", False, False, True),
    ("ivfpq", "ann_ivfpq_topk_indexed", False, True, True),
    ("sq8", "ann_ivfsq8_topk_indexed", False, True, True),
    ("ivf", "ann_ivf_join_indexed", True, True, False),
    ("pq", "ann_pq_join_indexed", True, False, True),
    ("ivfpq", "ann_ivfpq_join_indexed", True, True, True),
    ("sq8", "ann_ivfsq8_join_indexed", True, True, True),
]


@pytest.mark.parametrize(
    "kind, probe, batch, has_nprobe, has_rerank",
    _INDEXED_PROBES,
    ids=[row[1] for row in _INDEXED_PROBES],
)
def test_ann_ivfsq8_validation_errors(
    spark, emb, ro_store, store_copy, kind, probe, batch, has_nprobe,
    has_rerank,
):
    """Every indexed probe validates k, nprobe, rerank and each query's
    dim (a NULL or mismatched vector would NULL-fold every score) the
    same way; the IVF-SQ8 row also pins the SQ8 build/append checks."""
    from spark_sorted_spark.functions import similarity

    fn = getattr(similarity, probe)
    p = ro_store(kind)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()[1]]

    def queries(vec):
        return spark.createDataFrame(
            [(1, vec)], "query_id bigint, query_vec array<double>"
        )

    def call(q=None, **kw):
        if q is None:
            q = queries(qvec) if batch else qvec
        return fn(spark, p, q, **kw)

    with pytest.raises(ValueError, match="k must be >= 1"):
        call(k=0)
    if has_rerank:
        with pytest.raises(ValueError, match="rerank"):
            call(k=10, rerank=5)
    if has_nprobe:
        with pytest.raises(ValueError, match="nprobe must be"):
            call(k=3, nprobe=0)
    if not batch:
        with pytest.raises(ValueError, match="query dim"):
            call([1.0, 2.0], k=3)
    else:
        # the batch validates every query's dim against the index's
        # recorded dim — a mismatched vector would NULL-fold every
        # score silently
        for bad in (None, [1.0, 2.0]):
            with pytest.raises(ValueError, match="!= index dim"):
                call(queries(bad), k=3)
    if probe != "ann_ivfsq8_topk_indexed":
        return
    from spark_sorted_spark.functions.similarity import (
        append_to_ann_ivf_index,
        append_to_ann_ivfsq8_index,
        build_ann_ivfsq8_index,
    )

    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", "embedding")
    sq8 = store_copy("sq8", "sq8")
    with pytest.raises(ValueError, match="batch_id must be >= 0"):
        append_to_ann_ivfsq8_index(corpus, sq8, batch_id=-1)
    with pytest.raises(ValueError, match="commit must be"):
        build_ann_ivfsq8_index(corpus, f"{sq8}_x", commit="nope")
    with pytest.raises(ValueError, match="extra_cols"):
        build_ann_ivfsq8_index(corpus, f"{sq8}_y", extra_cols=("scale",))
    # cross-layout appends corrupt silently without the guards: raw
    # vectors into an SQ8 store, or scale+codes into a plain IVF store
    with pytest.raises(ValueError, match="append_to_ann_ivfsq8_index"):
        append_to_ann_ivf_index(corpus, sq8)
    ivf = store_copy("ivf", "plain_ivf")
    with pytest.raises(ValueError, match="missing _sq_meta"):
        append_to_ann_ivfsq8_index(corpus, ivf)


_ANN_APPENDS = {
    "lsh": "append_to_ann_lsh_index",
    "ivf": "append_to_ann_ivf_index",
    "pq": "append_to_ann_pq_index",
    "ivfpq": "append_to_ann_ivfpq_index",
    "sq8": "append_to_ann_ivfsq8_index",
}


@pytest.mark.parametrize(
    "family, store",
    [(f, s) for f in _ANN_APPENDS for s in _ANN_APPENDS if s != f],
)
def test_ann_append_refuses_foreign_layout(spark, emb, store_copy, family, store):
    """Every ANN append refuses a store of another family and writes
    nothing: its rows would not match the layout (an LSH batch landed
    in an IVF store made the next IVF probe fail on conflicting
    partition columns). The error names the store's own append."""
    from test_store_lifecycle import _snapshot

    from spark_sorted_spark.functions import similarity

    path = store_copy(store, store)
    before = _snapshot(path)
    batch = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id", "embedding")
    with pytest.raises(ValueError, match=_ANN_APPENDS[store]):
        getattr(similarity, _ANN_APPENDS[family])(batch, path, batch_id=0)
    assert _snapshot(path) == before


def test_similarity_all_lists_every_public_function():
    import inspect

    from spark_sorted_spark.functions import similarity

    public = {
        n
        for n, o in vars(similarity).items()
        if inspect.isfunction(o)
        and not n.startswith("_")
        and o.__module__ == similarity.__name__
    }
    assert public <= set(similarity.__all__), sorted(
        public - set(similarity.__all__)
    )


def test_ann_ivfsq8_auto_nlist_and_zero_vector(spark, tmp_path):
    """nlist=None auto-sizes cells like the IVF build; an all-zero
    vector quantizes to zero codes with scale 0; its reconstructed
    cosine is NULLed by the probe's scale-0 guard (0/0 would trip
    ANSI mode) and sorts last, so zero vectors never rank."""
    from spark_sorted_spark.functions.similarity import (
        ann_ivfsq8_topk_indexed,
        build_ann_ivfsq8_index,
    )

    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(4)]) for i in range(1, 40)]
    rows.append((99, [0.0, 0.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    p = str(tmp_path / "sq8auto")
    build_ann_ivfsq8_index(df, p, nlist=None, target_cell=8, dim=4)
    stored = spark.read.parquet(p)
    ncells = stored.select("cell").distinct().count()
    assert 3 <= ncells <= 8  # ceil(40/8)=5 seeded cells, some may merge
    zero = stored.filter(F.col("vec_id") == 99).head()
    assert zero.scale == 0.0 and set(zero.codes) == {0}
    out = ann_ivfsq8_topk_indexed(
        spark, p, [1.0, 0.5, -0.5, 2.0], k=5, nprobe=50
    ).collect()
    assert len(out) == 5
    assert all(r.vec_id != 99 for r in out)


def test_training_order_deterministic_complete_and_seeded(spark, docs):
    """training_order: every doc gets exactly one (shard, pos); per
    shard the positions are 0..n-1 dense; the assignment is invariant
    to partitioning (content-hash only); a different seed yields a
    different permutation; n_shards < 1 raises."""
    from spark_sorted_spark.functions.sampling import training_order

    d = docs.select("doc_id")
    out = training_order(d, n_shards=4, seed=7).collect()
    assert len(out) == d.count()
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(4))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    # partitioning-invariant: identical rows from a 7-partition input
    again = training_order(d.repartition(7), n_shards=4, seed=7).collect()
    assert sorted((r.doc_id, r.shard, r.pos) for r in out) == sorted(
        (r.doc_id, r.shard, r.pos) for r in again
    )
    # a different seed is a different permutation (overwhelmingly)
    other = training_order(d, n_shards=4, seed=8).collect()
    assert sorted((r.doc_id, r.shard, r.pos) for r in out) != sorted(
        (r.doc_id, r.shard, r.pos) for r in other
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_shards"):
        training_order(d, n_shards=0)
    # ADVICE r12: a NULL id raises at compute time instead of
    # silently hashing as md5('<seed>') (which the DuckDB replay —
    # '<seed>:' || NULL -> NULL — would never reproduce)
    withnull = spark.createDataFrame(
        [(1,), (None,)], "doc_id bigint"
    )
    with _pytest.raises(Exception, match="NULL doc_id"):
        training_order(withnull, n_shards=2).collect()
