"""Benchmark harness — BASELINE.md B1-B7 at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "bench_total_sec", "value": N, "unit": "sec",
 "queries": {...per-query sec...}, "sf": "<dir>"}

Each query is forced end-to-end with the noop writer (computes every
row, writes nothing) so lazy plans can't skip work. Times include plan
+ execute, excluding session startup, input cache priming, and per-
query-shape one-time JIT/worker-spawn costs (one untimed warmup run,
then min of two timed runs — see main()).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from spark_sorted_spark import group_sort
from spark_sorted_spark.session import get_spark
from spark_sorted_spark.sources.tpch import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from the aggregate /proc/stat cpu
    line, or None where unavailable. Ambient telemetry ONLY — feeds
    the additive "ambient" JSON key so a contended host run is
    machine-adjudicable (round 15 lost a whole round's comparison to
    hypervisor steal that was invisible in the bench JSON)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        if parts[0] != "cpu":
            return None
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except Exception:
        return None


def _load1() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except Exception:
        return None


def _steal_pct(before, after) -> float | None:
    if before is None or after is None:
        return None
    dt = after[1] - before[1]
    if dt <= 0:
        return None
    return round(100.0 * (after[0] - before[0]) / dt, 3)


def b1_layout(spark):
    events = load_table(spark, "events", SF_DIR)
    gs = group_sort(
        events.select("user_id", "ts", "event_id", "value"),
        "user_id",
        order_by=["ts", "event_id"],
    )
    force(gs.to_df())


def b2_ema(spark):
    events = load_table(spark, "events", SF_DIR)
    gs = group_sort(
        events.select("user_id", "ts", "event_id", "value"),
        "user_id",
        order_by=["ts", "event_id"],
    )
    force(
        gs.fold_left_by_key(
            0.0,
            lambda acc, v: acc * F.lit(0.8) + F.lit(0.2) * v,
            value_col="value",
            alias="ema",
            tier="native",
        )
    )


def b3_topk(spark):
    from spark_sorted_spark.operators.map_stream import take_by_key

    events = load_table(spark, "events", SF_DIR)
    gs = group_sort(
        events.select("user_id", "event_id", "value"),
        "user_id",
        order_by=[("value", False), ("event_id", True)],
    )
    force(take_by_key(gs, 3, tier="native"))


def b4_join(spark):
    orders = load_table(spark, "orders", SF_DIR).select("o_orderkey", "o_totalprice")
    li = load_table(spark, "lineitem", SF_DIR).select(
        "l_orderkey", "l_extendedprice"
    )
    lgs = group_sort(orders.withColumnRenamed("o_orderkey", "orderkey"), "orderkey")
    rgs = group_sort(li.withColumnRenamed("l_orderkey", "orderkey"), "orderkey")
    force(lgs.merge_join_inner(rgs).to_df())
    force(lgs.merge_join(rgs).to_df())  # full outer


def _scan_gs(spark):
    li = load_table(spark, "lineitem", SF_DIR).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    return group_sort(li, "l_orderkey", order_by="l_linenumber")


def b5_scan(spark):
    # native tier: cumulative window + zero-row union, no Python
    force(
        _scan_gs(spark).scan_left_by_key(
            0.0, None, value_col="l_quantity", alias="running_qty",
            tier="native", agg="sum",
        )
    )


def b5_scan_stream(spark):
    # streaming tier (generic-merge path) with vectorized prefix fn
    force(
        _scan_gs(spark).scan_left_by_key(
            0.0,
            lambda acc, v: acc + v,
            value_col="l_quantity",
            alias="running_qty",
            tier="stream",
            merge_vec=lambda acc, s: acc + s.cumsum(),
        )
    )


def b6_agg(spark):
    li = load_table(spark, "lineitem", SF_DIR)
    force(
        li.groupBy("l_orderkey").agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


def b7_stream_vs_pandas(spark):
    # streaming tier on the full events table (never materializes a
    # group) — the reference's core memory claim
    import pandas as pd

    from spark_sorted_spark.operators.map_stream import map_stream_by_key

    events = load_table(spark, "events", SF_DIR)
    gs = group_sort(
        events.select("user_id", "ts", "value"),
        "user_id",
        order_by="ts",
    )

    def fn(key, chunks):
        n, s = 0, 0.0
        for c in chunks:
            n += len(c)
            s += float(c["value"].sum())
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "s": [s]})

    force(
        map_stream_by_key(gs, fn, "user_id bigint, n bigint, s double", tier="stream")
    )


def b7_arrow(spark):
    # same workload as b7 on the zero-copy mapInArrow tier
    import pyarrow as pa
    import pyarrow.compute as pc

    from spark_sorted_spark.operators.map_stream import map_stream_by_key

    events = load_table(spark, "events", SF_DIR)
    gs = group_sort(
        events.select("user_id", "ts", "value"), "user_id", order_by="ts"
    )

    def fn(key, rbs):
        n, s = 0, 0.0
        for rb in rbs:
            n += rb.num_rows
            s += pc.sum(rb.column(rb.schema.get_field_index("value"))).as_py()
        yield pa.RecordBatch.from_pydict({"user_id": [key[0]], "n": [n], "s": [s]})

    force(
        map_stream_by_key(gs, fn, "user_id bigint, n bigint, s double", tier="arrow")
    )


def b8_asof(spark):
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["asof_join"](spark, SF_DIR))


def b9_tpch_q1(spark):
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["tpch_q1_pricing_summary"](spark, SF_DIR))


def b10_clean_corpus(spark):
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["pipeline_clean_corpus"](spark, SF_DIR))


def b11_stream_window(spark):
    # Structured Streaming drain (availableNow) of the hourly window agg
    from spark_sorted_spark.queries import QUERIES

    QUERIES["stream_hourly_window"](spark, SF_DIR).count()


def b12_minhash_lsh(spark):
    # the dedup SCALE path (banded MinHash candidates + exact verify) —
    # benched so the 100-TB shape, not just the exact baseline, has a
    # recorded number to regress against
    from spark_sorted_spark.functions.dedup import minhash_lsh_pairs

    force(minhash_lsh_pairs(load_table(spark, "documents", SF_DIR)))


def b13_embedding_lsh(spark):
    # embedding near-dup scale path: multi-table sign-bit LSH + verify
    from spark_sorted_spark.functions.similarity import cosine_neardup_pairs_lsh

    force(cosine_neardup_pairs_lsh(load_table(spark, "embeddings", SF_DIR), 0.4))


def b14_simhash_banded(spark):
    # SimHash scale path: pigeonhole-exact banded candidates at k=3
    from spark_sorted_spark.functions.dedup import simhash_pairs_banded

    force(simhash_pairs_banded(load_table(spark, "documents", SF_DIR)))


def b15_range_join(spark):
    # bucketed interval join: clicks within ±30 min of each purchase
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["range_join"](spark, SF_DIR))


def b16_dedup_clusters(spark):
    # the dedup close-out: LSH pair emission -> transitive clusters
    # (iterative min-label propagation) -> canonical flags. Timed
    # end-to-end because the iteration's per-round action cost is the
    # number that matters at scale, not the final plan.
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["dedup_clusters"](spark, SF_DIR))


def b17_knn_join(spark):
    # batch retrieval: top-3 cosine neighbors per odd-id vector among
    # even-id LSH bucket collisions — the cross-corpus knn shape
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["knn_join"](spark, SF_DIR))


def b18_interval_overlap(spark):
    # two-sided interval join: click/view 6-hour window intersections
    # per user via the bucketed equi-join (single-bucket emission)
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["interval_overlap"](spark, SF_DIR))


def b19_doc_keywords(spark):
    # distinctive-term extraction: explode -> two aggs -> join ->
    # per-doc rank window, all integers
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["doc_keywords"](spark, SF_DIR))


def b20_resample_daily(spark):
    # gap-filled per-user daily grid: agg -> span explode -> left
    # join -> carry window
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["resample_daily"](spark, SF_DIR))


def b21_chunk_documents(spark):
    # context-window chunking: zero-shuffle flat map at scan speed
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["chunk_documents"](spark, SF_DIR))


def b22_sessionize_native(spark):
    # native gap sessionization: one shuffle, lag + running sum,
    # per-session aggregates
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["sessionize_native"](spark, SF_DIR))


def b23_negative_pairs(spark):
    # deterministic contrastive negatives: bucket-ring windows + join
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["negative_pairs"](spark, SF_DIR))


def b26_zorder_layout(spark):
    # write-side Morton clustering of events on (user_id, ts): one
    # bounded min/max job + one range shuffle + in-partition sort —
    # the cost a 100 TB re-layout pays per output file set
    from spark_sorted_spark.functions.layout import zorder_layout
    from spark_sorted_spark.sources.tpch import event_ts_us

    ev = load_table(spark, "events", SF_DIR)
    ev = ev.withColumn("ts_us", event_ts_us(ev, "ts"))
    force(zorder_layout(ev, ["user_id", "ts_us"], bits=12, n_partitions=32))


def b24_tpch_q9(spark):
    # widest TPC-H fact join in the catalog: lineitem x part x
    # supplier x orders x nation under a LIKE prefilter, year rollup
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["tpch_q9_product_profit"](spark, SF_DIR))


def b25_tpch_q21(spark):
    # the exists/not-exists double self-join shape as one per-order
    # aggregate + two semi-joins — heaviest of the round-7 TPC-H adds
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["tpch_q21_waiting_suppliers"](spark, SF_DIR))


def b27_embed_dedup_incremental(spark):
    # incremental embedding near-dup: even-id batch vs the persisted
    # odd-id index — the per-nightly-batch cost of the embedding
    # dedup loop (ids-only bucket join + exact verify)
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["embedding_dedup_incremental"](spark, SF_DIR))


def b55_embed_dedup_ivf(spark):
    # IVF-index-backed incremental near-dup (round-13 gated row): the
    # same nightly-batch flow as b27 against the SAME IVF store ANN
    # serving uses — (id, cell) candidate join + exact verify
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["embedding_dedup_ivf"](spark, SF_DIR))


def b56_semantic_mix(spark):
    # cluster-balanced corpus mix (round-13 gated row): seeded
    # centroid pick + native argmax assignment + one window over the
    # cluster partitioning + broadcast quota join — the only r13 op
    # without a measured wall-clock (VERDICT r13 item 5)
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["semantic_mix"](spark, SF_DIR))


def b57_rerank_mmr(spark):
    # diversity-aware second stage (round-15 gated row): bm25_join
    # candidates at n_candidates=20, then greedy MMR at lam=0.5 —
    # stage two is |Q| x n_candidates^2 token-set work in one
    # candidate-bounded applyInPandas, corpus-size-free
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["retrieval_rerank_mmr"](spark, SF_DIR))


def b28_jaccard_prefix(spark):
    # lossless prefix-filtered Jaccard self-join (AllPairs/PPJoin):
    # the exact-answer price to compare against the b12 MinHash
    # approximation — candidates from rare-first prefixes only
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["dedup_jaccard_prefix"](spark, SF_DIR))


def b30_decontaminate_verbatim(spark):
    # token-aligned verbatim containment (single min-df probe per
    # prompt, broadcast candidates, contains verify on candidates only)
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["decontaminate_verbatim"](spark, SF_DIR))


def b32_ann_ivfpq(spark):
    # composite IVF-PQ probe: cell-directory pruning x code-column
    # pruning, residual ADC (index build cached across bench runs by
    # the catalog's _ann_index helper)
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["similarity_ann_ivfpq"](spark, SF_DIR))


def b31_ann_pq(spark):
    # product-quantization ANN, query-time form (seeded codebooks +
    # native argmin encode + ADC rank) — the compressed-scan third
    # path of the LSH/IVF/PQ triad
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["similarity_ann_pq"](spark, SF_DIR))


def b29_decontaminate_exact(spark):
    # cross-corpus lossless Jaccard join (R-S PPJoin) at tau=1/5:
    # the exact-guarantee price vs the b-free screening pass; right-
    # side-only frequency order keeps the corpus out of candidates
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["decontaminate_exact"](spark, SF_DIR))


def b33_repeated_spans(spark):
    # exact repeated-substring REMOVAL (Lee et al. 2022 ExactSubstr as
    # duplicated 8-token windows): window-count aggregate + flag-back
    # join + per-doc island merge + scan-side cut — linear, no
    # candidate pairs; the removal half subsumes detection's work
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["dedup_clean_repeated_spans"](spark, SF_DIR))


def b34_semantic_dedup(spark):
    # SemDeDup: seeded cells + within-cell pairwise verify (the
    # deliberate O(sum cell^2) the paper trades for global O(n^2))
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["dedup_semantic"](spark, SF_DIR))


_GRAM_STORE_PATH = None


def b35_gram_store_incremental(spark):
    # incremental ExactSubstr: clean a nightly batch against the
    # persisted corpus gram store (index build amortized across bench
    # runs, like b27's ANN index — the timed body is the per-batch
    # cost the nightly loop actually pays)
    global _GRAM_STORE_PATH
    from pyspark.sql import functions as F

    from spark_sorted_spark.functions.dedup import (
        build_gram_store,
        clean_against_gram_store,
    )
    from spark_sorted_spark.sources.tpch import load_table

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    if _GRAM_STORE_PATH is None:
        import tempfile

        _GRAM_STORE_PATH = tempfile.mkdtemp(prefix="bench_gram_") + "/store"
        build_gram_store(corpus, _GRAM_STORE_PATH, min_len=8)
    force(clean_against_gram_store(batch, _GRAM_STORE_PATH))


def b36_bm25_topk(spark):
    # lexical retrieval: postings for 4 query terms, broadcast idf,
    # TakeOrderedAndProject top-k
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["bm25_topk"](spark, SF_DIR))


def b37_dsir_select(spark):
    # DSIR: two bucketed LM aggregates, broadcast log-ratio join,
    # per-doc strict fold, Gumbel-max take
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["dsir_select"](spark, SF_DIR))


def b38_bm25_join(spark):
    # batch R-S BM25: 5 queries x corpus, one scan, per-query top-5
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["bm25_join"](spark, SF_DIR))


def b39_hybrid_topk(spark):
    # RRF fusion of BM25 top-50 and exact-cosine top-50
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["hybrid_topk"](spark, SF_DIR))


_BM25_IDX_PATH = None


def b40_bm25_indexed(spark):
    # indexed lexical probe: postings-bucket pruning, no corpus text
    # (index build amortized outside the timed body, like b27/b35)
    global _BM25_IDX_PATH
    from spark_sorted_spark.functions.retrieval import (
        bm25_topk_indexed,
        build_bm25_index,
    )
    from spark_sorted_spark.sources.tpch import load_table

    if _BM25_IDX_PATH is None:
        import tempfile

        _BM25_IDX_PATH = tempfile.mkdtemp(prefix="bench_bm25_") + "/idx"
        build_bm25_index(
            load_table(spark, "documents", SF_DIR), _BM25_IDX_PATH
        )
    force(bm25_topk_indexed(spark, _BM25_IDX_PATH, "batch data order", k=15))


def b41_bm25_join_indexed(spark):
    # batch probe against the shared amortized index (b40's)
    global _BM25_IDX_PATH
    from pyspark.sql import functions as F

    from spark_sorted_spark.functions.retrieval import (
        bm25_join_indexed,
        build_bm25_index,
    )
    from spark_sorted_spark.sources.tpch import load_table

    docs = load_table(spark, "documents", SF_DIR)
    if _BM25_IDX_PATH is None:
        import tempfile

        _BM25_IDX_PATH = tempfile.mkdtemp(prefix="bench_bm25_") + "/idx"
        build_bm25_index(docs, _BM25_IDX_PATH)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    q = docs.filter(F.col("doc_id").isin([3, 7, 11, 19, 23])).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(toks, 1, 4), " ").alias("text"),
    )
    force(bm25_join_indexed(spark, _BM25_IDX_PATH, q, k=4))


_HYBRID_IVF_PATH = None


def b42_hybrid_indexed(spark):
    # the 100 TB hybrid serving path: BM25 bucket-pruned probe + IVF
    # nprobe-pruned probe + RRF fusion — both index builds amortized
    # outside the timed body (shares b40's BM25 index)
    global _BM25_IDX_PATH, _HYBRID_IVF_PATH
    from pyspark.sql import functions as F

    from spark_sorted_spark.functions.retrieval import (
        build_bm25_index,
        hybrid_topk_indexed,
    )
    from spark_sorted_spark.functions.similarity import build_ann_ivf_index
    from spark_sorted_spark.sources.tpch import load_table

    if _BM25_IDX_PATH is None:
        import tempfile

        _BM25_IDX_PATH = tempfile.mkdtemp(prefix="bench_bm25_") + "/idx"
        build_bm25_index(
            load_table(spark, "documents", SF_DIR), _BM25_IDX_PATH
        )
    emb = load_table(spark, "embeddings", SF_DIR)
    if _HYBRID_IVF_PATH is None:
        import tempfile

        _HYBRID_IVF_PATH = tempfile.mkdtemp(prefix="bench_ivf_") + "/idx"
        build_ann_ivf_index(
            emb.filter(F.col("vec_id") != 0), _HYBRID_IVF_PATH
        )
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    ]
    force(
        hybrid_topk_indexed(
            spark,
            _BM25_IDX_PATH,
            _HYBRID_IVF_PATH,
            "merge sort stream table",
            qvec,
            k=12,
            n_candidates=40,
        )
    )


def b44_hybrid_join_indexed(spark):
    # batch hybrid serving: the whole query batch's lexical candidates
    # from pruned BM25 postings + dense candidates from the union of
    # probed IVF cells, fused per query (shares b42's indexes)
    global _BM25_IDX_PATH, _HYBRID_IVF_PATH
    from pyspark.sql import functions as F

    from spark_sorted_spark.functions.retrieval import (
        build_bm25_index,
        hybrid_join_indexed,
    )
    from spark_sorted_spark.functions.similarity import build_ann_ivf_index
    from spark_sorted_spark.sources.tpch import load_table

    docs = load_table(spark, "documents", SF_DIR)
    emb = load_table(spark, "embeddings", SF_DIR)
    if _BM25_IDX_PATH is None:
        import tempfile

        _BM25_IDX_PATH = tempfile.mkdtemp(prefix="bench_bm25_") + "/idx"
        build_bm25_index(docs, _BM25_IDX_PATH)
    if _HYBRID_IVF_PATH is None:
        import tempfile

        _HYBRID_IVF_PATH = tempfile.mkdtemp(prefix="bench_ivf_") + "/idx"
        build_ann_ivf_index(
            emb.filter(F.col("vec_id") != 0), _HYBRID_IVF_PATH
        )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    q = (
        docs.filter(F.col("doc_id").isin([3, 7, 11, 19, 23]))
        .select(
            F.col("doc_id").alias("query_id"),
            F.array_join(F.slice(toks, 1, 4), " ").alias("text"),
        )
        .join(
            emb.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").cast("array<double>").alias("query_vec"),
            ),
            "query_id",
        )
    )
    force(
        hybrid_join_indexed(
            spark, _BM25_IDX_PATH, _HYBRID_IVF_PATH, q, k=6, n_candidates=20
        )
    )


_IVFPQ_IDX_PATH = None


def b45_ivfpq_join_indexed(spark):
    # batch dense serving probe: 5 queries against the persisted
    # IVF-PQ index — union-of-probed-cells directory pruning PLUS
    # code-column-only reads (index build amortized outside the timed
    # body, like b40/b42)
    global _IVFPQ_IDX_PATH
    from pyspark.sql import functions as F

    from spark_sorted_spark.functions.similarity import (
        ann_ivfpq_join_indexed,
        build_ann_ivfpq_index,
    )
    from spark_sorted_spark.sources.tpch import load_table

    emb = load_table(spark, "embeddings", SF_DIR)
    if _IVFPQ_IDX_PATH is None:
        import tempfile

        _IVFPQ_IDX_PATH = tempfile.mkdtemp(prefix="bench_ivfpq_") + "/idx"
        build_ann_ivfpq_index(
            emb.filter(F.col("vec_id") != 0), _IVFPQ_IDX_PATH
        )
    q = emb.filter(F.col("vec_id").isin([0, 3, 7, 11, 19])).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    force(ann_ivfpq_join_indexed(spark, _IVFPQ_IDX_PATH, q, k=10, nprobe=4))


def b46_bm25_prf(spark):
    # two-pass PRF retrieval: pass-one top-3 feedback docs, +5
    # expansion terms, rescore — the recall-tool shape (both passes
    # are the scan form; the cost is ~2x b36 + the tiny feedback scan)
    from spark_sorted_spark.functions.retrieval import bm25_topk_prf
    from spark_sorted_spark.sources.tpch import load_table

    force(
        bm25_topk_prf(
            load_table(spark, "documents", SF_DIR),
            "spark join window filter",
            k=15,
            fb_docs=3,
            fb_terms=5,
        )
    )


def b47_bm25_join_rm3(spark):
    # batch weighted relevance feedback: per-query RM3 weights from
    # each query's own feedback, rescored in ONE weighted batch BM25
    # job. Corpus passes regardless of |Q|: one stats aggregate
    # (shared by both passes), pass one, the id-pruned feedback
    # count, pass two — the two-pass scan-twin composition (~2x b38
    # + feedback), the honest batch-RM3 floor; the indexed PRF/RM3
    # forms are the serving path
    from spark_sorted_spark.queries import QUERIES

    force(QUERIES["bm25_join_rm3"](spark, SF_DIR))


_IVFSQ8_IDX_PATH = None


def b50_ivfsq8_join_indexed(spark):
    # batch scalar-quantized serving probe: 5 queries against the
    # persisted IVF-SQ8 index — union-of-probed-cells directory
    # pruning with (scale, codes)-only reads (4x less IO than the
    # float32 IVF scan; index build amortized outside the timed body,
    # like b45; b48/b49 are scale-probe-only names)
    global _IVFSQ8_IDX_PATH
    from pyspark.sql import functions as F

    from spark_sorted_spark.functions.similarity import (
        ann_ivfsq8_join_indexed,
        build_ann_ivfsq8_index,
    )
    from spark_sorted_spark.sources.tpch import load_table

    emb = load_table(spark, "embeddings", SF_DIR)
    if _IVFSQ8_IDX_PATH is None:
        import tempfile

        _IVFSQ8_IDX_PATH = tempfile.mkdtemp(prefix="bench_ivfsq8_") + "/idx"
        build_ann_ivfsq8_index(
            emb.filter(F.col("vec_id") != 0), _IVFSQ8_IDX_PATH
        )
    q = emb.filter(F.col("vec_id").isin([0, 3, 7, 11, 19])).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    force(ann_ivfsq8_join_indexed(spark, _IVFSQ8_IDX_PATH, q, k=10, nprobe=4))


def b52_bm25_join_rm3_indexed(spark):
    # the batch-RM3 SERVING path (round-13 gated row): both passes +
    # the per-query feedback counts read pruned postings buckets of
    # the shared amortized index — the measured 1.6x-vs-scan form
    global _BM25_IDX_PATH
    from pyspark.sql import functions as F

    from spark_sorted_spark.functions.retrieval import (
        bm25_join_rm3_indexed,
        build_bm25_index,
    )
    from spark_sorted_spark.sources.tpch import load_table

    docs = load_table(spark, "documents", SF_DIR)
    if _BM25_IDX_PATH is None:
        import tempfile

        _BM25_IDX_PATH = tempfile.mkdtemp(prefix="bench_bm25_") + "/idx"
        build_bm25_index(docs, _BM25_IDX_PATH)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    q = docs.filter(F.col("doc_id").isin([3, 7, 11, 19, 23])).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(toks, 1, 4), " ").alias("text"),
    )
    force(
        bm25_join_rm3_indexed(
            spark, _BM25_IDX_PATH, q, k=4, fb_docs=3, fb_terms=5, lam=0.5
        )
    )


def b53_bm25_join_prf_indexed(spark):
    # the batch-PRF serving path (round-13 gated row): binary-weight
    # expansion, same pruned-postings discipline as b52
    global _BM25_IDX_PATH
    from pyspark.sql import functions as F

    from spark_sorted_spark.functions.retrieval import (
        bm25_join_prf_indexed,
        build_bm25_index,
    )
    from spark_sorted_spark.sources.tpch import load_table

    docs = load_table(spark, "documents", SF_DIR)
    if _BM25_IDX_PATH is None:
        import tempfile

        _BM25_IDX_PATH = tempfile.mkdtemp(prefix="bench_bm25_") + "/idx"
        build_bm25_index(docs, _BM25_IDX_PATH)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    q = docs.filter(F.col("doc_id").isin([3, 7, 11, 19, 23])).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(toks, 1, 4), " ").alias("text"),
    )
    force(
        bm25_join_prf_indexed(
            spark, _BM25_IDX_PATH, q, k=6, fb_docs=3, fb_terms=5
        )
    )


_STREAM_BM25 = None


def b43_stream_bm25_maintain(spark):
    # streaming BM25 maintenance: one availableNow drain appending a
    # fresh 10%-of-corpus batch to the persisted index — the per-batch
    # overhead the nightly ingest loop pays (index build and stream
    # scaffolding amortized outside the timed body, like b35; each
    # call arrives NEW doc ids per the incremental-store contract)
    global _STREAM_BM25
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from spark_sorted_spark.functions.retrieval import build_bm25_index
    from spark_sorted_spark.sources.tpch import load_table
    from spark_sorted_spark.streaming import (
        stream_maintain_bm25_index,
        stream_table,
    )

    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    if _STREAM_BM25 is None:
        root = tempfile.mkdtemp(prefix="bench_sbm25_")
        idx, ckpt, watch = f"{root}/idx", f"{root}/ckpt", f"{root}/in"
        os.makedirs(watch)
        build_bm25_index(docs.filter(F.col("doc_id") % 10 != 0), idx)
        _STREAM_BM25 = {"idx": idx, "ckpt": ckpt, "watch": watch, "n": 0}
    st = _STREAM_BM25
    st["n"] += 1
    batch = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(st["n"] * 100_000_000)).alias("doc_id"),
        "text",
    )
    staged = f"{st['watch']}_stage"
    batch.coalesce(1).write.mode("overwrite").parquet(staged)
    for f in os.listdir(staged):
        if f.endswith(".parquet"):
            shutil.move(f"{staged}/{f}", f"{st['watch']}/b{st['n']}_{f}")
    sdf = stream_table(spark, "documents", SF_DIR, path=st["watch"]).select(
        "doc_id", "text"
    )
    stream_maintain_bm25_index(sdf, st["idx"], st["ckpt"], timeout_sec=300)


BENCH = {
    "b1_layout": b1_layout,
    "b2_ema": b2_ema,
    "b3_topk": b3_topk,
    "b4_join": b4_join,
    "b5_scan": b5_scan,
    "b5_scan_stream": b5_scan_stream,
    "b6_agg": b6_agg,
    "b7_stream": b7_stream_vs_pandas,
    "b7_arrow": b7_arrow,
    "b8_asof": b8_asof,
    "b9_tpch_q1": b9_tpch_q1,
    "b10_clean_corpus": b10_clean_corpus,
    "b11_stream_window": b11_stream_window,
    "b12_minhash_lsh": b12_minhash_lsh,
    "b13_embedding_lsh": b13_embedding_lsh,
    "b14_simhash_banded": b14_simhash_banded,
    "b15_range_join": b15_range_join,
    "b16_dedup_clusters": b16_dedup_clusters,
    "b17_knn_join": b17_knn_join,
    "b18_interval_overlap": b18_interval_overlap,
    "b19_doc_keywords": b19_doc_keywords,
    "b20_resample_daily": b20_resample_daily,
    "b21_chunk_documents": b21_chunk_documents,
    "b22_sessionize_native": b22_sessionize_native,
    "b23_negative_pairs": b23_negative_pairs,
    "b24_tpch_q9": b24_tpch_q9,
    "b25_tpch_q21": b25_tpch_q21,
    "b26_zorder_layout": b26_zorder_layout,
    "b27_embed_dedup_incremental": b27_embed_dedup_incremental,
    "b28_jaccard_prefix": b28_jaccard_prefix,
    "b29_decontaminate_exact": b29_decontaminate_exact,
    "b30_decontaminate_verbatim": b30_decontaminate_verbatim,
    "b31_ann_pq": b31_ann_pq,
    "b32_ann_ivfpq": b32_ann_ivfpq,
    "b33_repeated_spans": b33_repeated_spans,
    "b34_semantic_dedup": b34_semantic_dedup,
    "b35_gram_store_incremental": b35_gram_store_incremental,
    "b36_bm25_topk": b36_bm25_topk,
    "b37_dsir_select": b37_dsir_select,
    "b38_bm25_join": b38_bm25_join,
    "b39_hybrid_topk": b39_hybrid_topk,
    "b40_bm25_indexed": b40_bm25_indexed,
    "b41_bm25_join_indexed": b41_bm25_join_indexed,
    "b42_hybrid_indexed": b42_hybrid_indexed,
    "b43_stream_bm25_maintain": b43_stream_bm25_maintain,
    "b44_hybrid_join_indexed": b44_hybrid_join_indexed,
    "b45_ivfpq_join_indexed": b45_ivfpq_join_indexed,
    "b46_bm25_prf": b46_bm25_prf,
    "b47_bm25_join_rm3": b47_bm25_join_rm3,
    "b50_ivfsq8_join_indexed": b50_ivfsq8_join_indexed,
    "b52_bm25_join_rm3_indexed": b52_bm25_join_rm3_indexed,
    "b53_bm25_join_prf_indexed": b53_bm25_join_prf_indexed,
    "b55_embed_dedup_ivf": b55_embed_dedup_ivf,
    "b56_semantic_mix": b56_semantic_mix,
    "b57_rerank_mmr": b57_rerank_mmr,
}


def main():
    spark = get_spark("bench")
    # warm the JVM + parquet footers once so timings measure the
    # operators, not first-touch overheads
    for t in ("events", "orders", "lineitem"):
        load_table(spark, t, SF_DIR).count()

    # One untimed warmup + min of two timed runs per query. The first
    # execution of each query shape pays one-time costs that belong to
    # the JVM session, not the operator: whole-stage-codegen javac
    # compilation, Python worker spawn + imports on pandas paths.
    # Measured (r5, quiet machine): first run of the heavy LSH shapes
    # is 2-3x their steady state purely from these, which made the r4/r5
    # min-of-2 numbers noise-dominated. Steady-state is what scales to
    # the 100 TB question; cold JIT does not.
    #
    # NOISY entries get min-of-3 (VERDICT r7 item 7): sub-second scans
    # where a single scheduler hiccup doubles the number, and the
    # streaming drains whose fixed micro-batch engine startup (~1.5 s)
    # dominates and varies with ambient load. Declared band: deltas on
    # these entries within BASELINE.md §4c's noise band are ambient,
    # not regressions.
    NOISY = {"b5_scan", "b5_scan_stream", "b6_agg", "b7_stream",
             "b7_arrow", "b11_stream_window"}
    times: dict[str, float] = {}
    # ambient contention telemetry (additions-only; VERDICT r15 item 3):
    # hypervisor steal% and 1-min load sampled around each entry's
    # timed window (after the untimed warmup, the same window as
    # tools/bench_probe.py), so a contaminated run is adjudicable from
    # the JSON alone instead of costing a round of forensics
    ambient: dict[str, dict] = {}
    run_t0 = _cpu_ticks()
    for name, fn in BENCH.items():
        fn(spark)  # warmup (untimed)
        e_t0, l0 = _cpu_ticks(), _load1()
        best = float("inf")
        for _ in range(3 if name in NOISY else 2):
            t0 = time.perf_counter()
            fn(spark)
            best = min(best, time.perf_counter() - t0)
        times[name] = round(best, 3)
        e_t1, l1 = _cpu_ticks(), _load1()
        ambient[name] = {
            "steal_pct": _steal_pct(e_t0, e_t1),
            "load1": max(x for x in (l0, l1, -1.0) if x is not None),
        }
    total = round(sum(times.values()), 3)
    steals = [
        a["steal_pct"] for a in ambient.values() if a["steal_pct"] is not None
    ]
    loads = [a["load1"] for a in ambient.values() if a["load1"] >= 0]
    print(
        json.dumps(
            {
                "metric": "bench_total_sec",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": SF_DIR,
                "ambient": {
                    "per_query": ambient,
                    "steal_pct_run": _steal_pct(run_t0, _cpu_ticks()),
                    "steal_pct_max": max(steals) if steals else None,
                    "load1_max": max(loads) if loads else None,
                },
            }
        )
    )


if __name__ == "__main__":
    main()
