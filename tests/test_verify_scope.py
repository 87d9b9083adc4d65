"""Pins for the round-15 candidate-bounded exact verify
(``verify_scope``) on the five shingle/containment pair operators.

The claim under test (OPTIMIZATION_r15.md, guide §2.3/§3.1): both
verify build forms are LOSSLESS — ``corpus`` projects every document's
shingle set (cheapest while that side broadcasts), ``candidates``
semi-joins the relation to the ids present in a candidate pair first
(bounds the verify's compute and shuffle bytes by the candidate set,
the only scalable form past the broadcast threshold) — and ``auto``
flips between them at the session broadcast threshold. Results must be
bitwise identical across all three.
"""

import pytest
from pyspark.sql import functions as F

from spark_sorted_spark.functions.dedup import (
    _parse_byte_conf,
    _resolve_verify_scope,
    contains_join,
    exact_dedup,
    jaccard_prefix_join,
    jaccard_prefix_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)


def _docs(spark):
    # three near-dup clusters + noise; texts long enough for n=3
    # shingles and real collisions
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "a completely different document about spark shuffles"),
        (4, "a completely different document about spark shuffles"),
        (5, "pack my box with five dozen liquor jugs again ok"),
        (6, "pack my box with five dozen liquor jugs again now"),
        (7, "unrelated noise text that matches nothing else here"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _probes(spark):
    # right side for the R-S forms: substrings of docs 1/5 plus a miss
    rows = [
        (101, "brown fox jumps over the lazy"),
        (102, "five dozen liquor jugs"),
        (103, "zero overlap probe"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


_SELF_OPS = [ngram_jaccard_pairs, jaccard_prefix_pairs, minhash_lsh_pairs]


@pytest.mark.parametrize("op", _SELF_OPS, ids=lambda f: f.__name__)
def test_self_pair_scopes_bitwise_equal(spark, op):
    docs = _docs(spark)
    default = _sorted_rows(op(docs))
    corpus = _sorted_rows(op(docs, verify_scope="corpus"))
    candidates = _sorted_rows(op(docs, verify_scope="candidates"))
    assert default, f"{op.__name__}: fixture produced no pairs (toothless)"
    assert default == corpus == candidates


def test_rs_join_scopes_bitwise_equal(spark):
    docs, probes = _docs(spark), _probes(spark)
    forms = [
        _sorted_rows(
            jaccard_prefix_join(docs, probes, tau_num=1, tau_den=5, verify_scope=s)
        )
        for s in ("auto", "corpus", "candidates")
    ]
    assert forms[0], "jaccard_prefix_join fixture produced no pairs"
    assert forms[0] == forms[1] == forms[2]


def test_contains_join_scopes_bitwise_equal(spark):
    docs, probes = _docs(spark), _probes(spark)
    forms = [
        _sorted_rows(contains_join(docs, probes, verify_scope=s))
        for s in ("auto", "corpus", "candidates")
    ]
    assert forms[0], "contains_join fixture produced no pairs"
    assert forms[0] == forms[1] == forms[2]


def test_auto_flips_at_broadcast_threshold(spark, sf_dir):
    from spark_sorted_spark.sources.tpch import load_table

    # parquet-backed relation with a REAL (file-size) estimate, tiny
    # at sf0.001: stays corpus under the default 10 MB threshold,
    # keeping bench/test-scale plans byte-identical to the pre-change
    # form (the recorded PLANS.md pins)
    docs = load_table(spark, "documents", sf_dir)
    assert _resolve_verify_scope(docs, "text", "doc_id", "auto", "t") == "corpus"
    # a join of parquet relations (pipeline_clean_corpus's d1) is sized
    # by its leaf scans, not by the join's product estimate, so it
    # stays corpus too
    keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    d1 = docs.join(keep, "doc_id", "inner")
    assert _resolve_verify_scope(d1, "text", "doc_id", "auto", "t") == "corpus"
    # an RDD-backed relation has NO size estimate (stats default to
    # Long.MaxValue), so auto conservatively picks the
    # candidate-bounded form — lossless either way
    local = _docs(spark)
    assert (
        _resolve_verify_scope(local, "text", "doc_id", "auto", "t") == "candidates"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # any relation exceeds a 1-byte threshold: the corpus form
        # would stop broadcasting, so auto must flip to candidates
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
        assert (
            _resolve_verify_scope(docs, "text", "doc_id", "auto", "t")
            == "candidates"
        )
        # auto-broadcast DISABLED (-1): no broadcast regime exists at
        # any size; the resolver keeps the 10 MB default as the
        # cheap/heavy crossover, so a small parquet relation stays corpus
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert _resolve_verify_scope(docs, "text", "doc_id", "auto", "t") == "corpus"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_auto_sizes_a_single_relation_by_its_projection(spark, sf_dir):
    """The leaf-scan sum caps the estimate, it does not replace it: a
    single scan is still sized by its ``(id, text)`` projection, which
    is smaller than the file's full size."""
    from spark_sorted_spark.sources.tpch import load_table

    docs = load_table(spark, "documents", sf_dir)

    def size(df):
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())

    projected = size(docs.select("doc_id", "text"))
    assert projected < size(docs), "fixture: the projection must be smaller"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", f"{projected}b")
        assert _resolve_verify_scope(docs, "text", "doc_id", "auto", "t") == "corpus"
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", f"{projected - 1}b")
        assert _resolve_verify_scope(docs, "text", "doc_id", "auto", "t") == "candidates"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_candidates_scope_bounds_verify_sides(spark):
    from tests.conftest import plan_of

    docs = _docs(spark)
    plan = plan_of(minhash_lsh_pairs(docs, verify_scope="candidates"), "simple")
    # the shingle projections must sit ABOVE a semi join on candidate
    # ids — the structural property that keeps the verify's bytes
    # candidate-bounded at any corpus size
    assert "LeftSemi" in plan
    assert "LeftSemi" not in plan_of(
        minhash_lsh_pairs(docs, verify_scope="corpus"), "simple"
    )


def test_invalid_scope_raises(spark):
    with pytest.raises(ValueError, match="verify_scope"):
        minhash_lsh_pairs(_docs(spark), verify_scope="nope")


def test_parse_byte_conf():
    assert _parse_byte_conf("10485760b") == 10 * 1024 * 1024
    assert _parse_byte_conf("10MB") == 10 * 1024 * 1024
    assert _parse_byte_conf("1g") == 1024**3
    assert _parse_byte_conf(52428800) == 50 * 1024 * 1024
    assert _parse_byte_conf("garbage") == 10 * 1024 * 1024  # safe fallback
