"""MinHash-LSH candidates from one bucket pass (``dedup._bucket_pairs``)
against the count, join-back and band self-join form it replaced,
which is kept here as the reference."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from spark_sorted_spark.functions import dedup

_BANDS = "doc_id long, band int, band_key string"


def _reference_pairs(bands, max_bucket):
    small = (
        bands.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") <= max_bucket)
        .drop("bn")
    )
    kept = bands.join(small, on=["band", "band_key"])
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(b, on=["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _pairs(df) -> set:
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def _both(bands, max_bucket) -> tuple[set, set]:
    return (
        _pairs(dedup._bucket_pairs(bands, "doc_id", max_bucket)),
        _pairs(_reference_pairs(bands, max_bucket)),
    )


def test_full_bucket_yields_every_pair(spark):
    rows = [(i, 0, "k") for i in range(1, 6)] + [(9, 1, "k")]
    got, want = _both(spark.createDataFrame(rows, _BANDS), max_bucket=5)
    assert got == want
    assert len(got) == 10  # 5 choose 2; the band-1 singleton pairs with nothing


def test_bucket_over_the_bound_yields_nothing(spark):
    rows = [(i, 0, "hot") for i in range(1, 7)] + [(1, 1, "x"), (2, 1, "x")]
    got, want = _both(spark.createDataFrame(rows, _BANDS), max_bucket=5)
    assert got == want == {(1, 2)}


def test_duplicate_and_null_ids_match_the_reference(spark):
    rows = [
        (1, 0, "k"), (1, 0, "k"), (2, 0, "k"), (None, 0, "k"),
        (3, 1, "k"), (None, 1, "k"),
        (4, 2, "k"), (4, 2, "k"), (5, 2, "k"), (6, 2, "k"),
    ]
    bands = spark.createDataFrame(rows, _BANDS)
    for max_bucket in (2, 3, 4, 50):
        got, want = _both(bands, max_bucket)
        assert got == want, max_bucket
    # a null id and a repeated id each count as a member, as in the
    # reference's count, and pair with nothing
    assert _both(bands, 3)[0] == set()
    assert _both(bands, 4)[0] == {(1, 2), (4, 5), (4, 6), (5, 6)}


def _planted_corpus(spark, n_docs=120, seed=20261020):
    """Random 30-word documents plus near-duplicates (one word
    changed) and exact copies, so buckets of 2 to 4 members exist."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(400)]
    texts = [" ".join(rng.choice(vocab) for _ in range(30)) for _ in range(n_docs)]
    for src in rng.sample(range(n_docs), 12):
        words = texts[src].split()
        for _ in range(rng.randint(1, 4)):
            edit = list(words)
            edit[rng.randrange(len(edit))] = rng.choice(vocab)
            texts.append(" ".join(edit))
    texts += [texts[0]] * 3
    order = list(range(len(texts)))
    rng.shuffle(order)
    return spark.createDataFrame(
        [(doc_id, texts[i]) for doc_id, i in enumerate(order)],
        "doc_id long, text string",
    )


@pytest.mark.parametrize("max_bucket", [1, 2, 50])
def test_planted_near_dups_match_the_reference(spark, max_bucket):
    docs = _planted_corpus(spark)
    bands = dedup.minhash_band_table(docs).cache()
    try:
        got, want = _both(bands, max_bucket)
    finally:
        bands.unpersist()
    assert got == want
    if max_bucket == 50:
        assert len(got) > 20
    pairs = dedup.minhash_lsh_pairs(docs, max_bucket=max_bucket)
    ref = dedup._jaccard_verify(
        _reference_pairs(dedup.minhash_band_table(docs), max_bucket),
        docs, docs, ("doc_a", "doc_b"), ("n_a", "n_b"), "doc_id", "text",
        3, "corpus", 1, 2,
    )
    assert sorted(map(tuple, pairs.collect())) == sorted(map(tuple, ref.collect()))


def test_band_table_is_read_once(spark, sf_dir):
    from spark_sorted_spark.sources.tpch import load_table

    pairs = dedup.minhash_lsh_pairs(load_table(spark, "documents", sf_dir))
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.split("\n")
    assert sum("Generate" in ln and "band_key" in ln for ln in lines) == 1
    assert not any("Join" in ln and "band" in ln for ln in lines)


def test_max_bucket_is_required(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_bucket must be an int"):
        dedup.minhash_lsh_pairs(docs, max_bucket=None)
