"""Similarity search over embedding columns (``array<float>``).

Exact scoring. ``cosine`` is a strict left-fold dot product over
norms, so Spark's ``F.aggregate`` and DuckDB's ``list_reduce`` run
the same IEEE-double operation sequence and scores compare exactly
through a threshold or a rank. ``cosine_topk`` / ``cosine_join`` are
the brute-force single and batch top-k; ``cosine_neardup_pairs`` is
the all-pairs baseline.

Query-time ANN. ``ann_lsh_topk`` (seeded sign-bit hyperplanes,
multi-probe), ``ann_ivf_topk`` (seeded or Lloyd-refined centroids)
and ``ann_pq_topk`` (product quantization, ADC ranking) assign
buckets, cells or codes at query time: one scan per query.

Persisted ANN indexes. Five families share one core:

* the **family record** (``_Lsh``, ``_Ivf``, ``_Pq``, ``_IvfPq``,
  ``_Sq8``) hides a format: its metadata tables (``_lsh_meta``;
  ``_centroids``; ``_pq_codebooks`` + ``_pq_meta``; both; ``_centroids``
  + ``_sq_meta``), its partition key (``bucket``, ``cell``, or none
  for flat PQ's ``/codes``), ``train`` (planes, centroids or
  codebooks), ``encode`` (the persisted row), ``probe_keys`` (a
  query's buckets or cells), ``qvals`` / ``key_vals`` (the values a
  score reads per query and per probed (query, cell) pair) and
  ``score`` (exact cosine, ADC from ``0.0`` or from the cell dot, or
  the SQ8 reconstructed cosine);
* **build** (:func:`_ann_build`) stages the store, checks the corpus
  dim, trains, encodes the base partition and writes the metadata,
  then publishes once (``sources.manifest.staged_store``);
* **append** (:func:`_ann_append`) lands one batch partition against
  the frozen parameters; one layout guard refuses another family's
  store;
* **probe** (:func:`_ann_probe`) has one front door (argument, dim
  and NULL checks), one pruned read (batch fence, key ``isin``,
  ``where``) and one scorer; a single query finishes with
  ``orderBy.limit`` (TakeOrderedAndProject), a batch with a per-query
  rank window, and either can add the exact-cosine ``rerank`` tail;
* **verify** (:func:`_verify_pairs`) is the one exact-cosine check of
  candidate id pairs behind ``knn_join_lsh``,
  ``cosine_neardup_pairs_lsh`` and both ``cosine_neardup_against_*``
  forms.

The public ``build_ann_*_index`` / ``append_to_ann_*_index`` /
``ann_*_topk_indexed`` / ``ann_*_join_indexed`` names are thin
wrappers over that core; ``compact_ann_index`` and
``ann_index_stats`` read any family's store.

At 100 TB the brute-force forms are per-partition narrow ops; the
indexed forms turn a top-k into a pruned scan of ~1/2^planes (LSH) or
nprobe/nlist (IVF family) of the data, at code width for the
quantized families — the standard trade of recall for locality.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..sources.manifest import (
    _cached_driver_read,
    _carry,
    _ls,
    _rm_dir,
    batch_dir,
    resolve_root,
    staged_store,
    store_layout,
)
from .local_rows import local_rows_df

__all__ = [
    "dot_strict",
    "dot_py",
    "ann_ivf_topk",
    "ann_ivf_join_indexed",
    "knn_join_lsh",
    "cosine",
    "cosine_topk",
    "cosine_join",
    "cosine_neardup_pairs",
    "cosine_neardup_pairs_lsh",
    "cosine_neardup_against_index",
    "ann_lsh_topk",
    "build_ann_lsh_index",
    "append_to_ann_lsh_index",
    "append_to_ann_ivf_index",
    "ann_lsh_topk_indexed",
    "build_ann_ivf_index",
    "ann_ivf_topk_indexed",
    "pq_codebooks",
    "ann_pq_topk",
    "build_ann_pq_index",
    "append_to_ann_pq_index",
    "ann_pq_topk_indexed",
    "build_ann_ivfpq_index",
    "ann_ivfpq_topk_indexed",
    "build_ann_ivfsq8_index",
    "append_to_ann_ivfsq8_index",
    "ann_ivfsq8_topk_indexed",
    "ann_ivfsq8_join_indexed",
    "append_to_ann_ivfpq_index",
    "compact_ann_index",
    "ann_index_stats",
    "ann_pq_join_indexed",
    "ann_ivfpq_join_indexed",
    "cosine_neardup_against_ivf_index",
    "semantic_dedup",
    "quantize_embeddings",
    "dequantize_embeddings",
    "auto_planes",
    "ANN_DIM",
    "ANN_N_PLANES",
    "ANN_NLIST",
    "ANN_NPROBE",
    "ANN_PQ_M",
    "ANN_PQ_KSUB",
]

# Shared ANN configuration — single source of truth for BOTH the Spark
# implementations below and the DuckDB oracle builders in queries.py
# (which previously hard-coded n_planes/dim by convention; drifting
# them would silently desynchronize oracle and engine).
ANN_DIM = 64  # embeddings.embedding dimension (driver tables, FIXTURES.md)
ANN_N_PLANES = 8  # sign-bit planes for the single-table top-k LSH
ANN_NLIST = 16  # IVF centroid count
ANN_NPROBE = 4  # IVF cells probed per query


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot_strict(a: Column, b: Column) -> Column:
    """Strict left-fold dot product in double precision:
    ``fold(0.0, zip_with(a, b, *), +)`` — mirrors DuckDB
    ``list_reduce(list_prepend(0.0, list_transform(list_zip(a, b),
    s -> s[1]*s[2])), (acc, x) -> acc + x)`` operation for operation.

    (Measured dead ends, do not retry:
    1. unrolling literal-plane dots into flat ``v[0]*p0 + v[1]*p1 +
       ...`` chains to dodge the interpreted higher-order ``aggregate``
       blows janino's method-size limit at 32 planes x 64 dims —
       codegen falls back to interpreted for the whole projection and
       runs ~4x SLOWER than these folds.
    2. a vectorized numpy pandas-UDF screen in front of the LSH
       verify's exact fold (screen at threshold-1e-9, exact fold only
       on survivors): at 64 dims the Arrow round-trip of both
       embeddings costs ~2.5x MORE than just exact-folding all 250k
       sf0.1 candidates across cores (3.3s vs 1.3s measured r5). Also
       note Catalyst pushes a separate non-UDF exact filter BELOW the
       ArrowEvalPython node, silently re-folding every candidate — any
       future two-phase verify must guard the exact predicate inside
       one ``F.when(screen, exact)`` filter. Revisit only if embedding
       dim grows ~16x, where the fold/transfer ratio flips.)"""
    prods = F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return dot_strict(a, b) / (
        F.sqrt(dot_strict(a, a)) * F.sqrt(dot_strict(b, b))
    )


def _vec_lit(vec) -> Column:
    """One query vector as ONE constant-folded literal (the
    `_planes_lit` trick applied to a single vector): json round-trips
    float64 exactly, and from_json of a Literal folds to a plain
    array value — vs ~dim inlined F.lit() nodes whose py4j
    construction costs real driver wall-clock per call."""
    import json

    return F.from_json(
        F.lit(json.dumps([float(x) for x in vec])), "array<double>"
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine vs a literal query vector. Ties broken by
    id for determinism. Returns (id, rank, cos)."""
    return _top_single(
        df, cosine(F.col(vec_col), _vec_lit(query_vec)), "cos", k, id_col
    )


def _top_single(
    rows: DataFrame, score: Column, name: str, k: int, id_col: str
) -> DataFrame:
    """The single-query finish: ``(id, rank, <name>)`` for the top
    ``k`` rows by ``score`` DESC, id ASC. ``orderBy.limit`` compiles to
    TakeOrderedAndProject — a k-bounded take per partition, no global
    sort."""
    order = (F.col(name).desc(), F.col(id_col).asc())
    return (
        rows.select(F.col(id_col), score.alias(name))
        .orderBy(*order)
        .limit(k)
        .select(
            F.col(id_col),
            F.row_number().over(Window.orderBy(*order)).alias("rank"),
            name,
        )
    )


def _top_batch(
    rows: DataFrame, score: Column, name: str, k: int, id_col: str,
    query_id_col: str,
) -> DataFrame:
    """The batch finish: ``(query_id, id, <name>, rank)`` keeping each
    query's top ``k`` by ``score`` DESC, id ASC (one per-query rank
    window; ``rank`` is bigint)."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(name).desc(), F.col(id_col).asc()
    )
    return (
        rows.select(F.col(query_id_col), F.col(id_col), score.alias(name))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def cosine_join(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact batch top-``k`` by cosine — the R-S form of
    :func:`cosine_topk`: score EVERY query vector of ``queries``
    against ``embeddings`` in one job and keep each query's top ``k``.
    Returns ``(query_id, id, cos, rank)`` with rank 1..k per query
    (cos DESC, id tiebreak — the identical strict-fold doubles as the
    single-query form, so the order is bitwise-reproducible).

    Scale shape: ONE corpus scan regardless of |queries| — the query
    batch rides along as a broadcast, so the |queries| x N candidate
    stream is generated executor-side with no shuffle before the
    per-query window. This is the honest exact DEFINITIONAL form
    (dense scoring has no sparsity to prune); the 100 TB path is
    :func:`ann_ivf_join_indexed`, which reads only probed cells."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col).cast("array<double>").alias("__qv"),
    )
    # declared-crossjoin: corpus x broadcast QUERY BATCH — the batch
    # is the retrieval workload (bounded), not a second corpus; the
    # product is the definitional exact score relation itself
    scored = embeddings.crossJoin(F.broadcast(q))
    return _top_batch(
        scored, cosine(F.col(vec_col), F.col("__qv")), "cos", k, id_col,
        query_id_col,
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All-pairs cosine >= threshold (ids only — the threshold compare
    happens on bitwise-identical doubles, so the output is exact).
    Exact O(n^2) baseline; block or LSH-bucket first at scale."""
    a = df.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("emb_a"))
    b = df.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("emb_b"))
    # declared-crossjoin: the O(n^2) ORACLE BASELINE this module
    # documents; the gated scale path is cosine_neardup_pairs_lsh
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", cosine(F.col("emb_a"), F.col("emb_b")))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b")
    )


def dot_py(a, b) -> float:
    """Driver-side strict left-fold dot product — the same IEEE
    operation sequence as ``dot_strict`` / DuckDB ``list_reduce``
    (``((0.0 + a0*b0) + a1*b1) + ...``), so driver-computed sign bits
    and probe orderings are bitwise-consistent with the engine-side
    folds. numpy's pairwise summation would not be. Fails fast on a
    dimension mismatch (zip would silently truncate)."""
    if len(a) != len(b):
        raise ValueError(f"dot_py dimension mismatch: {len(a)} vs {len(b)}")
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    derived from md5 so any engine can recompute it. (Python-side
    constant generation — the literals are embedded in the plan.)"""
    import hashlib

    out = []
    for d in range(dim):
        h = int(hashlib.md5(f"plane{plane}-{d}".encode()).hexdigest()[:8], 16)
        out.append((h % 2001 - 1000) / 1000.0)
    return out


def _planes_lit(planes: list[list[float]]) -> Column:
    """Plane matrix as ONE constant-folded literal (from_json of a
    Literal folds to a plain array value in the optimizer) instead of
    len(planes)*dim inlined F.lit() nodes — the inlined tree costs
    whole seconds of py4j DataFrame construction per call at LSH sizes
    (measured r6: 70% of b13's wall-clock). json round-trips float64
    exactly, so the worker-side math is unchanged."""
    import json

    return F.from_json(F.lit(json.dumps(planes)), "array<array<double>>")


def _dot_dbl(a: Column, b: Column) -> Column:
    """dot_strict minus the per-element float->double cast transforms —
    callers pass arrays that are already double. Same products, same
    left-fold order: bitwise-equal to dot_strict."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sign_bucket_col(vec: Column, planes: list[list[float]]) -> Column:
    """Engine-side sign-bit bucket of ``vec`` under seeded hyperplanes
    (strict-fold dots — bitwise-equal to the oracle's). bits and pow2
    are zipped BEFORE the fold so the plane-dot transform is evaluated
    once (element_at into a transform expression would re-evaluate it
    per lookup — interpreted HOFs have no CSE inside lambdas)."""
    vd = vec.cast("array<double>")
    bits = F.transform(
        _planes_lit(planes), lambda p: F.when(_dot_dbl(vd, p) >= 0, 1).otherwise(0)
    )
    pow2 = F.array(*[F.lit(1 << p) for p in range(len(planes))])
    return F.aggregate(
        F.zip_with(bits, pow2, lambda b, w: b * w),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def _sign_bucket_bits(query_vec: list[float], planes: list[list[float]]) -> int:
    """Driver-side bucket of a query vector — same fold as the engine."""
    qbits = 0
    for p, plane in enumerate(planes):
        if dot_py(query_vec, plane) >= 0:
            qbits |= 1 << p
    return qbits


def _multiprobe_buckets(
    query_vec: list[float],
    planes: list[list[float]],
    probe_bits: int,
    probe_hamming: int = 1,
) -> list[int]:
    """Multi-probe bucket list: the query's own bucket plus the buckets
    reached by flipping each of the ``probe_bits`` LEAST-CONFIDENT sign
    bits (planes whose dot with the query is closest to 0 — the
    standard multi-probe LSH heuristic: a near neighbor most likely
    disagrees on exactly those). ``probe_hamming=2`` also probes every
    PAIR flip among those planes (1 + m + C(m,2) buckets): measured on
    clustered data this is what lifts sign-LSH recall@10 from ~0.6 to
    >0.9 at m=6 (tools/ann_recall.py; PARITY.md "ANN recall") — a near
    neighbor of a query sitting near TWO plane boundaries disagrees on
    both. Deterministic: |dot| ties break on plane index."""
    if probe_hamming not in (1, 2):
        raise ValueError(f"probe_hamming must be 1 or 2, got {probe_hamming}")
    qbits = _sign_bucket_bits(query_vec, planes)
    confidence = sorted(
        range(len(planes)), key=lambda p: (abs(dot_py(query_vec, planes[p])), p)
    )
    flip = confidence[:probe_bits]
    probes = [qbits] + [qbits ^ (1 << p) for p in flip]
    if probe_hamming == 2:
        probes += [
            qbits ^ (1 << flip[i]) ^ (1 << flip[j])
            for i in range(len(flip))
            for j in range(i + 1, len(flip))
        ]
    return probes


def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = ANN_N_PLANES,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_bits: int = 0,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: 8 random-hyperplane sign bits -> 256 buckets;
    rank by exact cosine within the probed buckets. Deterministic
    (seeded hyperplanes). ``probe_bits`` is the recall knob: 0 probes
    only the query's bucket; m probes m extra buckets at one-bit flips
    of the least-confident planes (candidate set grows ~(m+1)x, recall
    rises accordingly — measured in tests). ``probe_hamming=2`` adds
    the pair flips among those m planes — required to reach
    recall@10 >= 0.9 on clustered corpora (see
    :func:`_multiprobe_buckets` and PARITY.md "ANN recall"; on
    isotropic data recall ~= scanned fraction for ANY setting — an
    information-theoretic property of the data, not a knob problem).

    This form assigns buckets AT QUERY TIME (a full scan) — fine for
    one-off queries; for repeated queries over a large corpus, build
    the assignment once with :func:`build_ann_lsh_index` and probe it
    with :func:`ann_lsh_topk_indexed` (partition-pruned scan of the
    probed bucket directories)."""
    planes = [_hyperplane(p, len(query_vec)) for p in range(n_planes)]
    probes = _multiprobe_buckets(query_vec, planes, probe_bits, probe_hamming)
    bucketed = df.filter(_sign_bucket_col(F.col(vec_col), planes).isin(probes))
    return _top_single(
        bucketed, cosine(F.col(vec_col), _vec_lit(query_vec)), "cos", k, id_col
    )


def build_ann_lsh_index(
    df: DataFrame,
    path: str,
    n_planes: int | None = ANN_N_PLANES,
    dim: int = ANN_DIM,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    target_bucket: int = 128,
    commit: str = "rename",
) -> None:
    """Compute each vector's sign-bit bucket ONCE and persist the
    assignment directory-partitioned by ``bucket``. The build is one
    narrow scan (no shuffle — ``partitionBy`` splits files per task);
    afterwards every probe reads only its own bucket's directory
    (``PartitionFilters`` pruning — pinned in tests/test_plans.py).
    At 100 TB this turns per-query cost from O(corpus) bucket
    assignment into O(corpus / 2^n_planes) — the persist-the-index
    shape the query-time form documents.

    Batch-partitioned like the MinHash band
    store — the build writes base partition ``ingest_batch_id=-1``;
    :func:`append_to_ann_lsh_index` adds later corpus batches in
    their own partitions (idempotent when ``batch_id`` is set).
    Probes read the whole index; bucket pruning still applies (the
    bucket directory level is inside each batch partition).

    The build also persists its construction parameters at
    ``{path}/_lsh_meta`` (underscore — hidden from the partitioned
    read, the IVF ``_centroids`` pattern): appends/probes/dedup reads
    default to the RECORDED ``n_planes``/``dim`` and RAISE on an
    explicit mismatch — without the metadata, a probe with the wrong
    plane count silently computes garbage buckets and returns
    empty/wrong neighbors with no error.

    STORAGE CONTRACT (``commit=``, shared by every store — see
    ``sources/manifest.py``): the new index is staged whole and
    published once, so a rebuild whose input ``df`` READS the live
    index (the index holds id+embedding) scans the old copy intact.
    ``"rename"`` (default) swaps a sibling dir in — atomic on HDFS and
    local filesystems; on S3-style object stores pass
    ``commit="manifest"`` (generation dir + atomic pointer PUT).
    Appends and probes resolve the pointer transparently."""
    _ann_build(
        _LSH, df, path, commit, vec_col, id_col, dim, "build_ann_lsh_index",
        n_planes=n_planes, target_bucket=target_bucket,
    )


def _resolve_lsh_params(
    spark, path: str, n_planes: int | None, dim: int | None, caller: str,
    fallback_dim: int = ANN_DIM,
) -> tuple[int, int]:
    """Resolve (n_planes, dim) against the index's persisted
    ``_lsh_meta`` (cached, :func:`_cached_driver_read`): explicit args
    must MATCH the recorded construction (a mismatch means garbage
    buckets — raise); ``None`` adopts the recorded values; an index
    without the table (a stream-created or pre-metadata index) falls
    back to ``ANN_N_PLANES`` and ``fallback_dim``."""
    from pyspark.errors import AnalysisException

    def _load():
        try:
            # bounded-collect: one parameter row from the index metadata
            meta = spark.read.parquet(f"{path}/_lsh_meta").collect()
        except AnalysisException:
            return None
        return (int(meta[0].n_planes), int(meta[0].dim)) if meta else None

    meta = _cached_driver_read(spark, path, "_lsh_meta", _load)
    if meta is None:
        return (
            ANN_N_PLANES if n_planes is None else n_planes,
            fallback_dim if dim is None else dim,
        )
    mp, md = meta
    if n_planes is not None and n_planes != mp:
        raise ValueError(
            f"{caller}: index at {path!r} was built with "
            f"n_planes={mp}, got n_planes={n_planes} — mismatched "
            "planes bucket silently wrong; pass None to adopt the "
            "recorded construction"
        )
    if dim is not None and dim != md:
        raise ValueError(
            f"{caller}: index at {path!r} was built with dim={md}, "
            f"got dim={dim}"
        )
    return mp, md


def _write_batch(
    rows: DataFrame, path: str, key: str | None, part: int, mode: str
) -> None:
    """Land one batch partition ``ingest_batch_id={part}`` of an ANN
    store (a build or compaction writes the base ``-1`` with
    ``mode="overwrite"``; appends take ``sources.manifest.batch_dir``'s
    ``part``/``mode``) ``key``-partitioned, bracketed by its occupancy
    stats: an overwrite first drops its stats partition and counts
    the delta from a read-back of the partition just written (``key``
    is the directory name, so the count reads no data columns); a
    base-partition append counts from ``rows`` (column pruning keeps
    any encode out of the count). Flat PQ (``key=None``) is
    unpartitioned and has no side table."""
    from ..sources.bucketed import write_partitioned

    if key is not None and mode == "overwrite":
        _invalidate_occ_counts(rows.sparkSession, path, part)
    write_partitioned(rows, f"{path}/ingest_batch_id={part}", key, mode=mode)
    if key is not None:
        _append_occ_counts(rows, key, path, part, mode)


def _write_meta(spark, staged: str, name: str, rows, schema: str) -> None:
    """One bounded metadata table (``_lsh_meta``, ``_centroids``, ...)
    as a single file."""
    local_rows_df(spark, rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{staged}/{name}")


def append_to_ann_lsh_index(
    df: DataFrame,
    path: str,
    batch_id: int | None = None,
    n_planes: int | None = None,
    dim: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Add a corpus batch to a persisted LSH index WITHOUT touching
    the existing assignments — the growing-corpus maintenance path: at
    100 TB, re-running :func:`build_ann_lsh_index` per nightly batch
    would re-scan and re-write the whole corpus for vectors whose
    buckets never change (the planes are seeded constants).

    ``batch_id`` follows the shared append contract
    (``sources.manifest.batch_dir``): set, a streaming replay
    replaces its own partition instead of duplicating vectors
    (duplicated index rows would surface as duplicate candidates and
    corrupt ranks); unset, rows append to the base partition.

    Probes (:func:`ann_lsh_topk_indexed`) need no change: partition
    discovery surfaces all batches, bucket pruning applies within
    each."""
    _ann_append(
        _LSH, df, path, batch_id, vec_col, id_col, "append_to_ann_lsh_index",
        n_planes=n_planes, dim=dim,
    )


def ann_lsh_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    n_planes: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_bits: int = 0,
    probe_hamming: int = 1,
    before_batch: int | None = None,
) -> DataFrame:
    """Probe a persisted LSH index (:func:`build_ann_lsh_index`):
    compute the probed buckets driver-side (query bucket + one/two-bit
    flips of the ``probe_bits`` least-confident planes, see
    :func:`_multiprobe_buckets`), scan ONLY those bucket directories
    (partition-pruned), rank by exact cosine. Output is identical to
    ``ann_lsh_topk`` with the same probe settings on the same data
    (same planes, same folds). ``before_batch`` fences the read to
    earlier batch partitions (see :func:`_before_batch`)."""
    return _ann_probe(
        _LSH, spark, index_path, query_vec, k, "ann_lsh_topk_indexed",
        vec_col=vec_col, id_col=id_col, before_batch=before_batch,
        n_planes=n_planes, probe_bits=probe_bits, probe_hamming=probe_hamming,
    )


def _ivf_centroids(
    df: DataFrame, nlist: int, vec_col: str, id_col: str
) -> list[tuple]:
    """Deterministic centroid pick: the ``nlist`` vectors with the
    smallest ``(md5(id), id)`` — a seeded sample, no training loop.
    Bounded ``nlist``-row collect after TakeOrdered (not a data-flow
    collect)."""
    # bounded-collect: nlist centroid seed rows (limit above)
    return [
        (r[0], [float(x) for x in r[1]])
        for r in df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(nlist)
        .collect()
    ]


def _ivf_cell_col(vec: Column, cents: list[tuple]) -> Column:
    """Nearest-by-dot centroid as a native argmax: struct ordering
    compares fields in order, so the array_min of (-dot, idx) structs
    is the deterministic argmax with lowest-cell tiebreak — no Python
    in the scan. Centroids ride in as one constant-folded literal
    (_planes_lit) — the nlist*dim inlined-F.lit tree costs ~1 s of
    py4j construction per call (the b13 lesson, r6)."""
    vd = vec.cast("array<double>")
    cents_lit = _planes_lit([c for _cid, c in cents])
    idxs = F.sequence(F.lit(0), F.lit(len(cents) - 1))
    scored = F.zip_with(
        cents_lit,
        idxs,
        lambda c, i: F.struct((-_dot_dbl(vd, c)).alias("nd"), i.alias("cell")),
    )
    return F.array_min(scored)["cell"]


def _ivf_probe_cells_col(vec: Column, cents: list[tuple], nprobe: int) -> Column:
    """The ``nprobe`` nearest-by-dot cells of every row as a native
    array — the batch generalization of the driver-side
    :func:`_ivf_probe_cells` (same rule: dot DESC, lowest cell
    tiebreak; struct ``(-dot, cell)`` ascending sort replays it
    exactly). No Python in the scan; centroids ride in as one
    constant-folded literal like :func:`_ivf_cell_col`."""
    vd = vec.cast("array<double>")
    cents_lit = _planes_lit([c for _cid, c in cents])
    idxs = F.sequence(F.lit(0), F.lit(len(cents) - 1))
    scored = F.zip_with(
        cents_lit,
        idxs,
        lambda c, i: F.struct((-_dot_dbl(vd, c)).alias("nd"), i.alias("cell")),
    )
    return F.transform(
        F.slice(F.array_sort(scored), 1, min(nprobe, len(cents))),
        lambda s: s["cell"],
    )


def _lloyd_refine(
    df: DataFrame, cents: list[tuple], iters: int, vec_col: str
) -> list[tuple]:
    """Refine centroids with ``iters`` Lloyd (k-means) steps: assign
    every vector to its nearest current centroid (the same native
    argmax the index build uses), element-wise-average per cell, and
    collect the bounded nlist-row means as the new centroids. A cell
    that captures no vectors keeps its previous centroid (standard
    empty-cluster handling). Cost: one assign shuffle per iteration;
    the collect is nlist rows — bounded metadata, like the seeded
    pick.

    Note on determinism: the per-cell averages are float sums over
    partition-dependent order, so refined centroids can differ in
    final bits across runs. The PERSISTED index is the reproducible
    artifact (assignments are written once); rebuilds may place
    borderline vectors differently — same recall, not bitwise-same
    cells. The seeded pick (``lloyd_iters=0``) stays the fully
    deterministic default."""
    dim = len(cents[0][1])
    for _ in range(iters):
        assigned = df.select(
            F.col(vec_col).alias("__v"),
            _ivf_cell_col(F.col(vec_col), cents).alias("__cell"),
        )
        # bounded-collect: nlist mean rows (one per IVF cell)
        means = assigned.groupBy("__cell").agg(
            *[
                F.avg(F.col("__v")[i].cast("double")).alias(f"m{i}")
                for i in range(dim)
            ]
        ).collect()
        new = {
            r["__cell"]: [float(r[f"m{i}"]) for i in range(dim)]
            for r in means
        }
        cents = [
            (cid, new.get(i, vec)) for i, (cid, vec) in enumerate(cents)
        ]
    return cents


_RESERVED_INDEX_COLS = ("cell", "code", "bucket", "t", "ingest_batch_id")


def _check_extra_cols(
    extra_cols, id_col: str, vec_col: str, reserved: tuple = ()
) -> None:
    """Refuse ``extra_cols`` that collide with an index's layout
    columns — the shared ones plus the family's own ``reserved``."""
    layout = _RESERVED_INDEX_COLS + tuple(reserved) + (id_col, vec_col)
    bad = [c for c in extra_cols if c in layout]
    if bad:
        raise ValueError(
            f"extra_cols {bad} collide with index layout columns ({layout})"
        )


def _index_extra_cols(
    idx: DataFrame, id_col: str, vec_col: str, reserved: tuple = ()
) -> list[str]:
    """The metadata columns a persisted index carries beyond its
    layout columns — appends introspect these so extras flow through
    without a parameter (and a batch MISSING one fails loudly at the
    select instead of writing silent nulls)."""
    layout = _RESERVED_INDEX_COLS + tuple(reserved) + (id_col, vec_col)
    return [c for c in idx.columns if c not in layout]


def _apply_where(df: DataFrame, where) -> DataFrame:
    """Pre-filter semantics for indexed probes: the predicate runs
    INSIDE the pruned scan (an ordinary Catalyst pushdown over the
    index's stored metadata columns), so ranking only ever sees rows
    that qualify — top-k OF the filtered set, not a filtered top-k.
    Accepts a SQL string or a Column; None is a no-op."""
    if where is None:
        return df
    return df.filter(F.expr(where) if isinstance(where, str) else where)


def _before_batch(df: DataFrame, before_batch) -> DataFrame:
    """Replay-fence read for batch-partitioned indexes: restrict the
    probe to partitions written BEFORE the given ingest batch id —
    the same time-travel contract as the BM25 probes' ``before_batch``
    (the base partition is ``-1``, so any fence >= 0 includes the
    build). Planning-time partition pruning, like every batch-id
    filter in the repo."""
    if before_batch is None:
        return df
    return df.filter(F.col("ingest_batch_id") < int(before_batch))


def _ivf_probe_cells(query_vec, cents: list[tuple], nprobe: int) -> list[int]:
    order = sorted(
        range(len(cents)), key=lambda i: (-dot_py(query_vec, cents[i][1]), i)
    )
    return order[:nprobe]


def ann_ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nlist: int = ANN_NLIST,
    nprobe: int = ANN_NPROBE,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the other standard scale
    path next to LSH. ``nlist`` centroids are picked deterministically
    (the vectors with the smallest ``md5(id)`` — a seeded sample, no
    training loop); every vector is assigned to its nearest centroid
    with a native argmax over ``nlist`` strict-fold dot products
    (array-of-structs min — no Python in the scan); the query probes
    its ``nprobe`` nearest cells and ranks by exact cosine inside them.

    This form assigns cells AT QUERY TIME (a full scan); for repeated
    queries build the assignment once with :func:`build_ann_ivf_index`
    and probe via :func:`ann_ivf_topk_indexed` — per-query cost is then
    ``nprobe/nlist`` of the data (partition-pruned), embarrassingly
    parallel. Driver-side work is ``nlist`` centroid vectors —
    constants in the plan, not a data-flow collect.
    """
    cents = _ivf_centroids(df, nlist, vec_col, id_col)
    if lloyd_iters and cents:
        # same refinement the index build offers (one assign shuffle
        # per iteration); on clustered corpora this lifts probe recall
        # to ~1.0 at the default nprobe (tools/ann_recall.py)
        cents = _lloyd_refine(df, cents, lloyd_iters, vec_col)
    probe = _ivf_probe_cells(query_vec, cents, nprobe)
    celled = df.filter(_ivf_cell_col(F.col(vec_col), cents).isin(probe))
    return _top_single(
        celled, cosine(F.col(vec_col), _vec_lit(query_vec)), "cos", k, id_col
    )


def build_ann_ivf_index(
    df: DataFrame,
    path: str,
    nlist: int | None = ANN_NLIST,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lloyd_iters: int = 0,
    commit: str = "rename",
    extra_cols: tuple[str, ...] = (),
    target_cell: int = 256,
) -> None:
    """Pick centroids and assign every vector to its cell ONCE; persist
    the assignment directory-partitioned by ``cell`` plus the centroid
    table under ``<path>/_centroids`` (underscore-prefixed → invisible
    to the partitioned read). Probes then scan only their ``nprobe``
    cell directories.

    ``lloyd_iters`` > 0 refines the seeded centroid pick with that
    many k-means steps before the final assignment (see
    :func:`_lloyd_refine`): cells then track the data's actual
    cluster structure, which evens out cell sizes and improves
    probe recall at the cost of one assign shuffle per iteration.
    2-3 iterations capture most of the benefit; the refined
    centroids' ``cent_id`` keeps the seed vector's id as
    provenance.

    Batch-partitioned like the LSH index —
    base partition ``ingest_batch_id=-1``;
    :func:`append_to_ann_ivf_index` assigns later batches to the
    PERSISTED centroids in their own partitions. The centroid table
    stays at ``<path>/_centroids`` (underscore → hidden from the
    partitioned read).

    ``commit``: the shared storage contract (see
    :func:`build_ann_lsh_index` and ``sources/manifest.py``).

    ``extra_cols`` stores passthrough METADATA columns in the index
    rows (source, label, license, date, ...) — the filtered-ANN
    enabler: a probe's ``where`` predicate then evaluates inside the
    pruned scan as an ordinary parquet pushdown instead of a
    post-hoc join against a metadata table. Appends introspect the
    persisted schema and carry the same columns (or fail loudly)."""
    _ann_build(
        _IVF, df, path, commit, vec_col, id_col, None, "build_ann_ivf_index",
        extra_cols, nlist=nlist, lloyd_iters=lloyd_iters,
        target_cell=target_cell,
    )


def append_to_ann_ivf_index(
    df: DataFrame,
    path: str,
    batch_id: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Assign a new corpus batch to a persisted IVF index's EXISTING
    centroids (read back from ``<path>/_centroids``) and land it in
    its own batch partition — the growing-corpus path that skips both
    the centroid pick and the full-corpus re-assignment. Centroids
    intentionally do NOT move on append (the standard IVF trade-off:
    quantization drifts as the corpus grows; rebuild with
    ``lloyd_iters`` when cell-size skew warrants it).

    Same append contract as the LSH twin
    (``sources.manifest.batch_dir``)."""
    _ann_append(
        _IVF, df, path, batch_id, vec_col, id_col, "append_to_ann_ivf_index"
    )


def ann_ivf_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = ANN_NPROBE,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    where=None,
    before_batch: int | None = None,
) -> DataFrame:
    """Probe a persisted IVF index (:func:`build_ann_ivf_index`): load
    the (bounded, nlist-row) centroid table, order cells by query dot
    driver-side, scan ONLY the ``nprobe`` probed cell directories, rank
    by exact cosine. Identical output to ``ann_ivf_topk`` on the same
    data. ``where`` (SQL string or Column over the index's stored
    ``extra_cols``) is the FILTERED-ANN form: the predicate pushes
    into the pruned scan and ranking sees only qualifying rows —
    top-k of the filtered set. ``before_batch`` fences the read to
    earlier batch partitions (see :func:`_before_batch`)."""
    return _ann_probe(
        _IVF, spark, index_path, query_vec, k, "ann_ivf_topk_indexed",
        nprobe=nprobe, vec_col=vec_col, id_col=id_col, where=where,
        before_batch=before_batch,
    )


def ann_ivf_join_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = ANN_NPROBE,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    where=None,
    before_batch: int | None = None,
) -> DataFrame:
    """Batch ANN against a persisted IVF index — the R-S form of
    :func:`ann_ivf_topk_indexed`: probe the index for EVERY query of
    ``queries`` in one job, reading ONLY the union of the batch's
    probed cell directories. Returns ``(query_id, id, cos, rank)``,
    rank 1..k per query (exact cosine within each query's probed
    cells — same recall contract as the single-query probe; with
    ``nprobe >= nlist`` it equals :func:`cosine_join` exactly).
    ``where`` filters inside the pruned scan (see
    :func:`ann_ivf_topk_indexed`); it applies to the whole batch.

    Scale shape: per-query probe cells are ranked DRIVER-side against
    the bounded nlist-row centroid table (the query batch is the
    retrieval workload — collected like ``bm25_join_indexed``'s
    terms); the index scan prunes to the union of probed cells at
    planning time, and the (query, cell) pairs + query vectors ride
    back as broadcasts, so candidate generation is shuffle-free up to
    the per-query top-k window.

    |Q| ceiling: the query batch is driver-materialized by design
    (8*dim bytes per vector — 10^5 queries at dim 64 is ~50 MB, far
    under driver memory); millions of queries should chunk the batch
    and union the outputs (per-query independence makes chunking
    semantics-free)."""
    return _ann_probe(
        _IVF, spark, index_path, queries, k, "ann_ivf_join_indexed",
        nprobe=nprobe, vec_col=vec_col, id_col=id_col, where=where,
        before_batch=before_batch, query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the third standard ANN path next to LSH
# and IVF [Jégou, Douze, Schmid, "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011]. The vector is split into m subvectors;
# each subvector is quantized to one of ksub codewords (seeded pick,
# same md5 rule as the IVF centroids); a vector is then m small ints —
# at the defaults (m=4, ksub=16) 64 float32 dims compress to 4 bytes of
# code. Queries rank by ADC (asymmetric distance computation): a
# per-query table of subspace dots is computed driver-side, and each
# stored vector's approximate dot is m table lookups — the scan reads
# CODES ONLY (columnar pruning skips the embedding column entirely),
# which is the 100 TB story: ~16x less IO than exact ranking, with an
# optional exact rerank that reads embeddings for the top-R ids alone.
# Every float path is a strict left fold ((x-y)*(x-y) products — no
# pow), so the construction is bitwise-replayable by the DuckDB oracle.
# ---------------------------------------------------------------------------

ANN_PQ_M = 4
ANN_PQ_KSUB = 16


def pq_codebooks(
    df: DataFrame,
    m: int = ANN_PQ_M,
    ksub: int = ANN_PQ_KSUB,
    dim: int = ANN_DIM,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lloyd_iters: int = 0,
) -> list[list[list[float]]]:
    """Seeded PQ codebooks: the ``ksub`` vectors with the smallest
    ``(md5(id), id)`` (the IVF centroid rule — deterministic, no
    training loop, oracle-replayable) sliced into ``m`` subvectors:
    ``codebooks[j][c]`` is seed ``c``'s ``j``-th subvector. Bounded
    ksub-row collect.

    ``lloyd_iters > 0`` runs that many per-subspace k-means steps —
    the standard PQ training that makes codewords track the data's
    subspace structure (measured on the clustered recall corpus:
    ADC recall 0.13 -> see PARITY "ANN recall" — untrained PQ is a
    poor quantizer, trained PQ is the shipped recommendation at
    scale). Same determinism caveat as IVF's ``_lloyd_refine``:
    float means over partition order — the PERSISTED index is the
    reproducible artifact; the seeded pick stays the default so the
    oracle-gated query replays bit-for-bit."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    seeds = _ivf_centroids(df, ksub, vec_col, id_col)
    if len(seeds) < ksub:
        raise ValueError(
            f"corpus has only {len(seeds)} rows; need >= ksub={ksub}"
        )
    cbs = [
        [vec[j * dsub : (j + 1) * dsub] for _cid, vec in seeds]
        for j in range(m)
    ]
    if lloyd_iters:
        cbs = _pq_lloyd_refine(df, cbs, lloyd_iters, vec_col)
    return cbs


def _pq_lloyd_refine(
    df: DataFrame,
    cbs: list[list[list[float]]],
    iters: int,
    vec_col: str,
) -> list[list[list[float]]]:
    """Per-subspace Lloyd steps: assign every subvector to its current
    argmin codeword (the same native encode the index uses), average
    per (subspace, code), collect the bounded m*ksub means as the new
    codewords; empty codes keep their previous codeword. One
    assign+aggregate shuffle per iteration over (j, c, subvector)
    rows — m rows per input vector, ids-free."""
    m, ksub = len(cbs), len(cbs[0])
    dsub = len(cbs[0][0])
    for _ in range(iters):
        code = _pq_code_col(F.col(vec_col), cbs)
        vd = F.col(vec_col).cast("array<double>")
        pairs = F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.element_at(code, j + 1).alias("c"),
                    F.slice(vd, j * dsub + 1, dsub).alias("sub"),
                )
                for j in range(m)
            ]
        )
        ex = df.select(F.explode(pairs).alias("p")).select(
            "p.j", "p.c", "p.sub"
        )
        # bounded-collect: m*ksub mean rows
        means = (
            ex.groupBy("j", "c")
            .agg(*[F.avg(F.col("sub")[i]).alias(f"m{i}") for i in range(dsub)])
            .collect()
        )
        new = {
            (int(r.j), int(r.c)): [float(r[f"m{i}"]) for i in range(dsub)]
            for r in means
        }
        cbs = [
            [new.get((j, c), cbs[j][c]) for c in range(ksub)]
            for j in range(m)
        ]
    return cbs


def _d2_strict(a: Column, b: Column) -> Column:
    """Strict left-fold squared L2 distance: ``fold(0.0,
    zip_with(a, b, (x,y) -> (x-y)*(x-y)), +)`` — multiplication, not
    pow, so DuckDB's replay is bitwise-identical."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_code_col(
    vec: Column, codebooks: list[list[list[float]]]
) -> Column:
    """Native PQ encoding: per subspace, the argmin-L2 codeword index
    (ties to the lowest code — array_min over (d2, c) structs, the
    ``_ivf_cell_col`` pattern). Returns ``array<int>`` of length m.
    The codebook rides in as one constant-folded literal."""
    m, ksub = len(codebooks), len(codebooks[0])
    dsub = len(codebooks[0][0])
    flat = _planes_lit([c for j in range(m) for c in codebooks[j]])
    vd = vec.cast("array<double>")
    idxs = F.sequence(F.lit(0), F.lit(ksub - 1))

    def code_j(j: int) -> Column:
        sub = F.slice(vd, j * dsub + 1, dsub)
        scored = F.transform(
            idxs,
            lambda c: F.struct(
                _d2_strict(
                    sub, F.element_at(flat, F.lit(j * ksub) + c + 1)
                ).alias("d2"),
                c.alias("c"),
            ),
        )
        return F.array_min(scored)["c"]

    return F.array(*[code_j(j) for j in range(m)])


def _pq_query_table(
    query_vec: list[float], codebooks: list[list[list[float]]]
) -> list[float]:
    """Driver-side ADC table: ``table[j*ksub + c]`` = strict ascending
    dot of the query's j-th subvector with codeword c — python float64
    in the same IEEE order as the engine/oracle folds."""
    m, ksub = len(codebooks), len(codebooks[0])
    dsub = len(codebooks[0][0])
    out: list[float] = []
    for j in range(m):
        q = query_vec[j * dsub : (j + 1) * dsub]
        for c in range(ksub):
            acc = 0.0
            for x, y in zip(q, codebooks[j][c]):
                acc = acc + x * y
            out.append(acc)
    return out


def _adc(cbs: list[list[list[float]]], tbl: Column, init: Column) -> Column:
    """ADC approximate dot of a stored ``code`` row: a strict fold from
    ``init`` (``0.0`` for flat PQ, the query-cell centroid dot for
    IVF-PQ) over the m per-subspace lookups ``tbl[j*ksub + code[j]]``
    of the query's ADC table (:func:`_pq_query_table`)."""
    ksub = len(cbs[0])
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(len(cbs) - 1)),
        init,
        lambda acc, j: acc
        + F.element_at(tbl, j * ksub + F.element_at(F.col("code"), j + 1) + 1),
    )


def ann_pq_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = ANN_PQ_M,
    ksub: int = ANN_PQ_KSUB,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ approximate top-k by ADC (query-time form: encodes at query
    time — build the code table once with :func:`build_ann_pq_index`
    for repeated queries). Returns ``(id, rank, adot)`` — rank by
    approximate dot, descending, id tie-break. Approximation error is
    the quantization error; recall floors are pinned in tests and the
    indexed form offers exact rerank."""
    from .dedup import spread_small_input

    dim = len(query_vec)
    if codebooks is None:
        codebooks = pq_codebooks(df, m, ksub, dim, vec_col, id_col)
    # the per-vector argmin encode (m*ksub strict d2 folds) is the CPU
    # hot spot — a one-file parquet input would serialize it on one
    # core (measured 3.4s -> see PARITY; every other ANN entry spreads)
    coded = spread_small_input(df).select(
        F.col(id_col), _pq_code_col(F.col(vec_col), codebooks).alias("code")
    )
    tbl = _vec_lit(_pq_query_table(query_vec, codebooks))
    return _top_single(coded, _adc(codebooks, tbl, F.lit(0.0)), "adot", k, id_col)


def build_ann_pq_index(
    df: DataFrame,
    path: str,
    m: int = ANN_PQ_M,
    ksub: int = ANN_PQ_KSUB,
    dim: int = ANN_DIM,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    commit: str = "rename",
    lloyd_iters: int = 0,
    extra_cols: tuple[str, ...] = (),
) -> None:
    """Encode the corpus ONCE and persist ``(id, code, embedding)``
    plus the codebooks (``_pq_codebooks``) and construction params
    (``_pq_meta``). ADC probes read the CODE column only (parquet
    column pruning — the embedding bytes stay on disk); exact rerank
    reads embeddings for the top-R candidate ids alone. Same staged
    publish contract as the LSH/IVF builds (``commit="rename"`` |
    ``"manifest"``). ``extra_cols`` stores passthrough metadata for
    filtered probes (see :func:`build_ann_ivf_index`)."""
    _ann_build(
        _PQ, df, path, commit, vec_col, id_col, dim, "build_ann_pq_index",
        extra_cols, m=m, ksub=ksub, lloyd_iters=lloyd_iters,
    )


def append_to_ann_pq_index(
    df: DataFrame,
    path: str,
    batch_id: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Encode a new corpus batch against a persisted PQ index's FROZEN
    codebooks and land it in its own batch partition — the
    growing-corpus path, same contract as the LSH/IVF appends:
    ``batch_id`` set → overwrite-own-partition (replay-safe); unset →
    at-least-once append to the base partition. Codebooks intentionally
    do NOT retrain on append (quantization drifts as the corpus grows;
    rebuild with ``lloyd_iters`` when ADC error warrants it — the same
    trade-off as the IVF centroids)."""
    _ann_append(
        _PQ, df, path, batch_id, vec_col, id_col, "append_to_ann_pq_index"
    )


def build_ann_ivfpq_index(
    df: DataFrame,
    path: str,
    nlist: int | None = ANN_NLIST,
    m: int = ANN_PQ_M,
    ksub: int = ANN_PQ_KSUB,
    dim: int = ANN_DIM,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lloyd_iters: int = 0,
    pq_lloyd_iters: int = 0,
    commit: str = "rename",
    extra_cols: tuple[str, ...] = (),
    target_cell: int = 256,
) -> None:
    """IVF-PQ composite index — the canonical billion-scale ANN layout
    (FAISS's IVFPQ; Jégou et al., TPAMI 2011 §V): vectors are
    partitioned into ``nlist`` IVF cells (directory-partitioned, so a
    probe PRUNES to its ``nprobe`` cell dirs) and, within each cell,
    stored as the PQ code of their RESIDUAL ``x - centroid(cell)``
    (residuals are small and concentrated, so shared codebooks cover
    them far better than raw vectors — the standard accuracy trick).
    A probe touches ``nprobe/nlist`` of the data AND reads only the
    code column of that slice: cell pruning x columnar pruning is the
    100 TB multiplier the flat PQ scan lacks.

    ADC for dot ranking: ``dot(q, x) ~= dot(q, centroid(cell)) +
    sum_j dot(q_j, residual_codeword_j)`` — the first term is one
    per-cell driver-side constant, the sum is the usual table fold
    (fixed order, so the whole score is a strict IEEE fold and the
    DuckDB oracle replays it bit-for-bit with seeded codebooks).

    ``lloyd_iters`` refines the IVF centroids, ``pq_lloyd_iters`` the
    residual codebooks (same determinism caveat as both parents: the
    PERSISTED index is the reproducible artifact; seeded defaults keep
    the gated query oracle-replayable)."""
    _ann_build(
        _IVFPQ, df, path, commit, vec_col, id_col, dim,
        "build_ann_ivfpq_index", extra_cols, nlist=nlist, m=m, ksub=ksub,
        lloyd_iters=lloyd_iters, pq_lloyd_iters=pq_lloyd_iters,
        target_cell=target_cell,
    )


def append_to_ann_ivfpq_index(
    df: DataFrame,
    path: str,
    batch_id: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Encode a new corpus batch against a persisted IVF-PQ index's
    FROZEN centroids and residual codebooks and land it in its own
    batch partition (cell-subpartitioned, so probes prune appended
    data exactly like the base) — completes the growing-corpus story
    for the composite layout the way the LSH/IVF/PQ appends do for
    theirs. Neither the centroids nor the codebooks move on append
    (both quantizations drift as the corpus grows; rebuild with
    ``lloyd_iters`` / ``pq_lloyd_iters`` when probe recall warrants
    it — the documented parents' trade-off, compounded).

    Same append contract as every store (``sources.manifest.batch_dir``)."""
    _ann_append(
        _IVFPQ, df, path, batch_id, vec_col, id_col,
        "append_to_ann_ivfpq_index",
    )


def _list_batch_dirs(spark, root: str) -> list[str]:
    """Names of the ``ingest_batch_id=*`` partition dirs under
    ``root`` (empty if the dir is missing)."""
    return [n for n in _ls(spark, root) if n.startswith("ingest_batch_id=")]


# Persisted per-cell/bucket occupancy of the ANN index stores
# (VERDICT r14 item 2, the band store's ``counts`` precedent): every
# build/append/compact writes the occupancy of the batch partition it
# lands under ``{index}/_occ_counts/ingest_batch_id={b}`` (underscore
# → invisible to the partitioned data read), so the hot-cell/bucket
# guards (``max_cell``/``max_bucket``) read a METADATA-scale side
# table instead of paying a corpus-scale groupBy over the full index
# per nightly run. Delta-row semantics mirror the band store: an
# idempotent (batch_id-keyed) write invalidates then rewrites its own
# stats partition around its data partition; a base-partition append
# appends delta rows, and readers sum per key.
_OCC_DIR = "_occ_counts"


def _write_occ_counts(
    counted: DataFrame, key: str, root: str, part: int, mode: str
) -> None:
    """Persist the per-``key`` occupancy of ONE batch partition's rows
    (``counted``: the rows that were just written — a read-back of the
    fresh partition for builds/compacts and batch-id-keyed appends,
    the assignment frame itself for base-partition appends) under
    ``{root}/_occ_counts/ingest_batch_id={part}``. Column pruning
    keeps the aggregate scan to the key column alone — for a read-back
    of a just-written partition the key IS the directory name, so the
    job reads no data columns at all.

    Crash contract (shared with the band store, whose ``counts`` table
    this mirrors): a batch-id-keyed write drops its stats partition
    FIRST (:func:`_invalidate_occ_counts`), then lands data, then
    stats — every crash point leaves the batch's stats MISSING, which
    :func:`_load_occ_counts`'s listing check detects (guards fall back
    to the recount) even when the batch is a RE-LAND of an id whose
    earlier attempt completed both writes. A base-partition append has
    no stats partition of its own to drop; a crash between its two
    appended writes is recoverable by the store's documented replay."""
    (
        counted.groupBy(key)
        .agg(F.count(F.lit(1)).alias("occ_n"))
        .write.mode(mode)
        .parquet(f"{root}/{_OCC_DIR}/ingest_batch_id={part}")
    )


def _occ_read_back(spark, part_dir: str, key: str) -> DataFrame:
    """The just-written batch partition of ``part_dir`` re-read for
    occupancy counting: ``key`` is the partition directory name, so
    the count job reads NO data columns — and, unlike counting the
    assignment frame a second time, it cannot disagree with the data
    when the input is nondeterministic (a sample/limit/changing
    source re-executed between the data write and the stats write).
    An EMPTY corpus writes only ``_SUCCESS`` (no parquet files, so
    schema inference fails with UNABLE_TO_INFER_SCHEMA) — return an
    explicit empty frame so empty builds stay a supported bootstrap
    path (build empty, then append/stream into it). ONLY that
    condition is folded to empty: any other read failure (missing
    path, corrupt layout) must stay loud — silently counting an
    empty frame would write zero-row stats for a batch that has
    data, and the listing check could not see it."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(part_dir)
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" not in str(e):
            raise
        return local_rows_df(spark, [], f"{key} int")


def _invalidate_occ_counts(spark, root: str, part: int) -> None:
    """Drop the stats partition of a batch ABOUT to be overwritten,
    BEFORE its data partition is touched: a crash anywhere between
    then and the stats rewrite leaves the batch's stats MISSING
    (listing-detectable — guards recount) rather than silently stale
    (describing the replaced rows of a re-landed batch id, which the
    listing check alone cannot see). No-op when the batch is new."""
    _rm_dir(spark, f"{root}/{_OCC_DIR}/ingest_batch_id={part}")


def _append_occ_counts(
    assigned: DataFrame, key: str, root: str, part: int, mode: str
) -> None:
    """Write the occupancy stats for an append batch. Overwrite mode
    (batch-id-keyed) counts from a read-back of the partition just
    written — directory-name key, no second execution of the
    assignment expressions (sign-dots / centroid-dots run once per
    batch, which also keeps streaming maintainers at one assignment
    pass per micro-batch). Append mode counts from the frame: a
    read-back of the base partition would include prior rows."""
    if mode == "overwrite":
        counted = _occ_read_back(
            assigned.sparkSession, f"{root}/ingest_batch_id={part}", key
        )
    else:
        counted = assigned
    _write_occ_counts(counted, key, root, part, mode)


def _load_occ_counts(spark, path: str, key: str) -> DataFrame | None:
    """The persisted occupancy side table of a RESOLVED index path as
    ``(key, occ_n)`` delta rows, or ``None`` when the guards must fall
    back to recounting the index: the table is absent (a store built
    before round 15), holds a different key (layout mismatch), or its
    batch partitions don't mirror the data's (a foreign writer
    bypassed the build/append API, or a crash landed data without
    stats) — the same driver-side listing that keys the metadata
    cache, so freshness costs a directory listing, never a scan."""
    from pyspark.errors import AnalysisException

    occ_root = f"{path}/{_OCC_DIR}"
    data_batches = set(_list_batch_dirs(spark, path))
    occ_batches = set(_list_batch_dirs(spark, occ_root))
    if not occ_batches or occ_batches != data_batches:
        return None
    try:
        occ = spark.read.parquet(occ_root)
    except AnalysisException:
        return None
    if key not in occ.columns or "occ_n" not in occ.columns:
        return None
    return occ.select(key, "occ_n")


def compact_ann_index(spark, path: str) -> None:
    """Collapse a long-appended ANN index's batch partitions back to
    the base layout (``ingest_batch_id=-1``) — the ANN twin of
    ``compact_bm25_index`` / ``compact_minhash_band_store``: reads
    only the STORE (ids + codes/cells/buckets + vectors), never the
    source embeddings, and leaves probes bitwise unchanged (the batch
    column never participates in scoring — pinned in tests). Run it
    when nightly appends make the per-batch directory count (file
    listing, small files) matter; correctness never depends on it.

    Layout is AUTODETECTED from the store's metadata tables
    (:func:`_stored_family`; none means a stream-created LSH index).
    The compacted data, a fresh occupancy side table, the metadata
    tables and the ``_ingest_stream`` marker are staged whole and
    published once (``sources.manifest.staged_store``). Stop any
    maintenance stream first (the shared compact contract)."""
    cur, commit = store_layout(spark, path)
    fam = _stored_family(spark, cur) or _LSH
    if not _list_batch_dirs(spark, f"{cur}{fam.data}"):
        raise ValueError(f"{path!r} holds no batch partitions; build first")
    merged = spark.read.parquet(f"{cur}{fam.data}").drop("ingest_batch_id")
    with staged_store(spark, path, commit) as staged:
        _write_batch(merged, f"{staged}{fam.data}", fam.key, -1, "overwrite")
        _carry(spark, cur, staged, *sorted(_ANN_META), "_ingest_stream")


def ann_index_stats(spark, path: str) -> DataFrame:
    """Operational health report for a persisted ANN index (layout
    autodetected like :func:`compact_ann_index`): one row per
    ``(ingest_batch_id, unit)`` with its row count, where ``unit`` is
    the cell (IVF family), the bucket (LSH), or NULL (flat PQ).
    This is the relation the two maintenance decisions read from:
    many batch partitions -> :func:`compact_ann_index`; skewed or
    oversized units -> rebuild with ``lloyd_iters`` / auto ``nlist``.
    Store-only read (ids never leave the executors — the aggregate is
    batchxunit-bounded)."""
    cur = resolve_root(spark, path)
    fam = _stored_family(spark, cur) or _LSH
    if not _list_batch_dirs(spark, f"{cur}{fam.data}"):
        raise ValueError(f"{path!r} holds no batch partitions; build first")
    unit = F.col(fam.key) if fam.key else F.lit(None)
    return (
        spark.read.parquet(f"{cur}{fam.data}")
        .groupBy(
            F.col("ingest_batch_id").cast("bigint").alias("ingest_batch_id"),
            unit.cast("int").alias("unit"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def ann_ivfpq_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = ANN_NPROBE,
    rerank: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    where=None,
    before_batch: int | None = None,
) -> DataFrame:
    """Probe a persisted IVF-PQ index: rank the ``nprobe`` best cells
    by centroid dot driver-side, scan ONLY those cell directories
    (``PartitionFilters``) reading the CODE column only, score by
    residual ADC (``cell_dot + ordered table fold``), deterministic
    top-k by (adot desc, id). ``rerank=R`` re-ranks the top-R by exact
    cosine, reading embeddings for those R ids alone. ``where``
    filters inside the doubly-pruned scan over the index's stored
    ``extra_cols`` (pre-filter semantics)."""
    return _ann_probe(
        _IVFPQ, spark, index_path, query_vec, k, "ann_ivfpq_topk_indexed",
        nprobe=nprobe, rerank=rerank, vec_col=vec_col, id_col=id_col,
        where=where, before_batch=before_batch,
    )


def _load_centroids(spark, path: str):
    """Cached ``(cent_id, vector)`` centroid table of a RESOLVED index
    path — the shared front door of every IVF-family append and probe
    (see :func:`_cached_driver_read` for the staleness contract). An
    empty table (a build over an empty corpus) raises: there is
    nothing to assign to or probe."""

    def _load():
        # bounded-collect: nlist centroid rows from the index metadata
        rows = (
            spark.read.parquet(f"{path}/_centroids").orderBy("cell").collect()
        )
        if not rows:
            raise ValueError(f"{path!r} holds no centroid table; build first")
        return [(r.cent_id, [float(x) for x in r.centroid]) for r in rows]

    return _cached_driver_read(spark, path, "_centroids", _load)


def _load_sq_meta_dim(spark, path: str) -> int:
    """Cached SQ8 meta dim of a RESOLVED index path."""

    def _load():
        return int(spark.read.parquet(f"{path}/_sq_meta").head().dim)

    return _cached_driver_read(spark, path, "_sq_meta", _load)


def _load_pq_index(spark, path: str):
    """Cached ``(dim, codebooks)`` of a RESOLVED PQ / IVF-PQ index
    path, ``codebooks[j][c]`` the j-th subspace's codeword c."""

    def _load():
        # bounded-collect: one construction-parameter row
        meta = spark.read.parquet(f"{path}/_pq_meta").collect()
        if not meta:
            raise ValueError(f"{path!r} holds no _pq_meta; build first")
        m, ksub = int(meta[0].m), int(meta[0].ksub)
        # bounded-collect: m*ksub codebook rows from the index metadata
        cb_rows = spark.read.parquet(f"{path}/_pq_codebooks").collect()
        cbs: list[list[list[float]]] = [
            [None] * ksub for _ in range(m)  # type: ignore[list-item]
        ]
        for r in cb_rows:
            cbs[int(r.j)][int(r.c)] = [float(x) for x in r.sub]
        return int(meta[0].dim), cbs

    return _cached_driver_read(spark, path, "_pq_meta", _load)


def ann_pq_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    rerank: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    where=None,
    before_batch: int | None = None,
) -> DataFrame:
    """Probe a persisted PQ index: ADC over the code column (the
    embedding column is pruned from the scan), identical output to
    ``ann_pq_topk`` with the same codebooks. ``rerank=R`` re-ranks the
    top-R ADC candidates by EXACT cosine (reads embeddings for those R
    ids only) and returns ``(id, rank, cos)`` — the standard
    compressed-scan-then-exact-tail pattern. ``where`` filters inside
    the scan over the index's stored ``extra_cols`` (pre-filter
    semantics, see :func:`ann_ivf_topk_indexed`)."""
    return _ann_probe(
        _PQ, spark, index_path, query_vec, k, "ann_pq_topk_indexed",
        rerank=rerank, vec_col=vec_col, id_col=id_col, where=where,
        before_batch=before_batch,
    )


def _check_corpus_dim(df: DataFrame, vec_col: str, dim: int, caller: str) -> None:
    """EAGER build-side half of the dim discipline (ADVICE r12):
    validate a small sample of corpus vectors against the dim about to
    be persisted in the index meta, BEFORE any work runs. A mislabeled
    dim written to meta is the silent-garbage mode the probe-side
    checks can't catch — every VALID query gets rejected at probe
    time, and a query matching the wrong meta dim passes validation
    and NULL-folds every score. The sample is 8 rows, not 1 (ADVICE
    r14): a one-row sample can land on the very minority-length row a
    seeded centroid pick adopted as the declared dim, passing the
    cross-check and leaving the per-row guard to fail the MAJORITY
    rows with a misleading message. A mixed corpus whose first 8
    non-null rows are ALL the minority length still slips through to
    the exact per-row complement, :func:`_dim_guard_col` in the
    builds' write paths (ADVICE r13)."""
    # bounded-collect: eight sampled rows for eager schema validation
    sample = df.filter(F.col(vec_col).isNotNull()).select(vec_col).head(8)
    if not sample:
        return  # empty / all-NULL corpus: nothing to validate against
    lens = sorted({len(r[0]) for r in sample})
    if lens == [dim]:
        return
    if len(lens) > 1:
        raise ValueError(
            f"{caller}: corpus {vec_col!r} holds MIXED vector lengths "
            f"{lens} (declared dim={dim}) — a mixed index would "
            "NULL-fold every minority-length row's scores; fix the "
            "corpus before building"
        )
    raise ValueError(
        f"{caller}: corpus {vec_col!r} has dim {lens[0]} but dim={dim} "
        "was declared — the meta would reject every valid query "
        "at probe time"
    )


def _dim_guard_wrap(out: Column, vec: Column, dim: int, msg: str) -> Column:
    """Shared per-row dim-guard shape: return ``out``, unless ``vec``
    is non-NULL with length != ``dim`` — then raise ``msg`` for that
    row. Wrapping an OUTPUT expression (a probe-cells array, a bucket
    projection) instead of the vector fed into it is the read-path
    form (ADVICE r14): expressions referenced inside interpreted HOF
    lambdas are re-evaluated per element (the r6 ``__bits`` note), so
    a guarded VECTOR would recompute the size() check per centroid or
    plane, while a guarded output evaluates it once per row."""
    return F.when(
        vec.isNotNull() & (F.size(vec) != dim),
        F.raise_error(F.lit(msg)),
    ).otherwise(out)


def _batch_dim_guard(out: Column, vec: Column, dim: int, caller: str) -> Column:
    """Read-path per-row dim guard for batch/query vectors joining a
    persisted index: the complement of the builds' write-path
    :func:`_dim_guard_col` — a MIXED-dim batch slips past the callers'
    eager one-row sample, and its wrong-length rows would NULL-fold
    every bucket/cell assignment and verify cosine, silently dropping
    exactly those rows' duplicate pairs (ADVICE r14: the silent-empty
    failure class)."""
    return _dim_guard_wrap(
        out,
        vec,
        dim,
        f"{caller}: batch vector with length != declared dim {dim} — "
        "a mismatched vector would NULL-fold its bucket/cell "
        "assignment and every verify cosine, silently dropping its "
        "duplicate pairs",
    )


def _dim_guard_col(vec: Column, dim: int, caller: str) -> Column:
    """EXACT write-path half of the dim discipline (ADVICE r13):
    :func:`_check_corpus_dim` samples ONE row, so a corpus with MIXED
    vector lengths can still build — every non-matching row would be
    persisted/encoded and NULL-fold at probe time, silently degrading
    recall. Wrapping the column an index build persists (or encodes)
    makes any non-NULL wrong-length row fail the BUILD loudly
    instead. NULL vectors pass through (probes already skip them via
    the norm filter). One size() comparison per row — noise next to
    the per-row encode/dot folds. ``dim=None`` (an IVF build over an
    empty corpus: no centroid to adopt a dim from) passes through."""
    if dim is None:
        return vec
    return _dim_guard_wrap(
        vec,
        vec,
        dim,
        f"{caller}: corpus vector with length != declared dim "
        f"{dim} — persisting it would NULL-fold at probe time "
        "with silently degraded recall",
    )


def _collect_query_batch(
    queries: DataFrame, query_id_col: str, query_vec_col: str, dim: int
):
    """Collect the retrieval workload for a batch probe and validate
    dimensions. Returns ``(qid_type, [(qid, [float...]), ...])`` — the
    shared front door of every ``*_join_indexed`` dense probe (the
    ``bm25_join_indexed`` discipline: the BATCH is bounded by
    definition; the corpus never moves)."""
    # bounded-collect: the query batch itself — the retrieval
    # workload, needed driver-side to build per-query probe plans
    qrows = queries.select(
        F.col(query_id_col), F.col(query_vec_col).cast("array<double>")
    ).collect()
    if not qrows:
        raise ValueError("query batch is empty")
    qid_type = queries.schema[query_id_col].dataType
    out = []
    for r in qrows:
        if r[1] is None or len(r[1]) != dim:
            got = "NULL" if r[1] is None else len(r[1])
            raise ValueError(
                f"query {r[0]!r} dim {got} != index dim {dim}: a "
                "mismatched vector would NULL-fold every score and "
                "silently return garbage ranks"
            )
        out.append((r[0], [float(x) for x in r[1]]))
    return qid_type, out


# ---------------------------------------------------------------------------
# The ANN index core. A family record hides one persisted layout (its
# metadata tables, partition key, training, row encoding, probe keys
# and score); _ann_build / _ann_append / _ann_probe run every build,
# append and indexed probe of the five families over those records.
# ---------------------------------------------------------------------------

_ANN_META = frozenset(
    ("_lsh_meta", "_centroids", "_pq_codebooks", "_pq_meta", "_sq_meta")
)


@dataclass
class _Params:
    """The frozen parameters of one index: its vector dim plus the LSH
    planes, IVF centroids and/or PQ codebooks its family uses (``nlist``
    is the cell count IVF-PQ records in ``_pq_meta``)."""

    dim: int | None
    planes: list | None = None
    cents: list | None = None
    cbs: list | None = None
    nlist: int | None = None


class _Family:
    """One persisted ANN index family. Attributes: ``name``;
    ``append`` (its public append, named by the layout guard);
    ``meta`` (the metadata tables that mark the layout); ``key`` (the
    partition key, or None for flat PQ's unpartitioned rows under
    ``data``); ``reserved`` (layout columns ``extra_cols`` may not
    use); ``extras`` (whether the rows carry ``extra_cols``);
    ``score_col`` (the probe's score column).

    Methods: ``train`` the parameters from a corpus (build only);
    ``load`` them from a built store (cached driver reads); ``encode``
    the persisted rows; ``write_meta``; ``probe_keys`` — the buckets
    or cells a query reads (None: no pruning); ``qvals`` — the
    per-query arrays ``score`` reads, as literals for one query or
    broadcast columns for a batch; ``key_vals`` — the per-(query, key)
    doubles named ``key_cols`` that ``score`` also reads (a batch
    carries them on its probed pairs, so a query's row never grows with
    the key count); ``score`` a stored row."""

    key: str | None = None
    data = ""
    reserved: tuple = ()
    extras = True
    score_col = "cos"
    key_cols: tuple = ()

    def probe_keys(self, q, p: _Params, **_):
        return None

    def qvals(self, q, p: _Params) -> dict:
        return {"__qv": q}

    def key_vals(self, q, p: _Params, key: int) -> tuple:
        return ()

    def score(self, p: _Params, qc: dict, vec_col: str) -> Column:
        return cosine(F.col(vec_col), qc["__qv"])


class _Lsh(_Family):
    name, append = "LSH", "append_to_ann_lsh_index"
    meta = frozenset({"_lsh_meta"})
    key = "bucket"
    extras = False

    def train(self, df, vec_col, id_col, dim, caller, n_planes, target_bucket):
        # n_planes=None derives the depth from the corpus count (the
        # auto_planes rule — a fixed depth is the measured quadratic at
        # 10x); the persisted _lsh_meta then makes the choice sticky for
        # every append/probe. The default stays the shared constant so the
        # oracle-gated queries keep a bucket space DuckDB can replay from
        # the same constant.
        #
        # target_bucket defaults to 128 here — FOUR TIMES the multi-table
        # constructions' 32 — because this store is SINGLE-table: with no
        # OR-construction, every extra plane multiplies per-pair recall at
        # a given cosine by p_plane < 1 uncompensated, and the per-vector
        # candidate budget of the multi-table forms (n_tables x 32 = 256)
        # affords one table a fatter bucket (PARITY "b27 auto-depth": at
        # 20k vectors the target-32 depth 9 was slower than depth 8 AND
        # found 37% fewer pairs; the target-128 depth 7 was fastest with
        # the most pairs). Depth still grows with log2(n), so the verify
        # stays linear-in-batch at the 100 TB design point.
        if n_planes is None:
            n_planes = auto_planes(df.count(), target_bucket)
        return _Params(dim, planes=[_hyperplane(i, dim) for i in range(n_planes)])

    def load(self, spark, path, caller, n_planes=None, dim=None, **kw):
        n_planes, dim = _resolve_lsh_params(spark, path, n_planes, dim, caller, **kw)
        return _Params(dim, planes=[_hyperplane(i, dim) for i in range(n_planes)])

    def encode(self, df, p, vec_col, id_col, extras, caller):
        return df.select(
            F.col(id_col),
            _dim_guard_col(F.col(vec_col), p.dim, caller).alias(vec_col),
            _sign_bucket_col(F.col(vec_col), p.planes).alias("bucket"),
        )

    def write_meta(self, spark, staged, p):
        _write_meta(
            spark, staged, "_lsh_meta",
            [(len(p.planes), int(p.dim))], "n_planes int, dim int",
        )

    def probe_keys(self, q, p, probe_bits=0, probe_hamming=1, **_):
        return _multiprobe_buckets(q, p.planes, probe_bits, probe_hamming)


class _Ivf(_Family):
    name, append = "IVF", "append_to_ann_ivf_index"
    meta = frozenset({"_centroids"})
    key = "cell"

    def train(
        self, df, vec_col, id_col, dim, caller, nlist, lloyd_iters,
        target_cell, **_,
    ):
        if nlist is None:
            # auto-size cells from the corpus count (ceil(n/target_cell) —
            # the semantic_dedup rule; PARITY scale rows: fixed cells make
            # probe candidate sets grow linearly with the corpus, auto
            # keeps expected occupancy ~target_cell). The DEFAULT stays
            # the fixed constant so gated constructions remain
            # oracle-replayable; pass None at scale.
            nlist = max(1, -(-df.count() // int(target_cell)))
        cents = _ivf_centroids(df, nlist, vec_col, id_col)
        if lloyd_iters and cents:
            cents = _lloyd_refine(df, cents, lloyd_iters, vec_col)
        if dim is None and cents:
            # no declared dim: the write-path guard adopts the SEEDED
            # CENTROID's length. If the pick sampled a minority
            # wrong-length row of a mixed-dim corpus, that guard would
            # fail the MAJORITY rows naming the minority length (ADVICE
            # r14) — cross-check a corpus sample up front so the loud
            # failure names both lengths.
            dim = len(cents[0][1])
            _check_corpus_dim(df, vec_col, dim, caller)
        return _Params(dim, cents=cents, nlist=nlist)

    def load(self, spark, path, caller, **_):
        cents = _load_centroids(spark, path)
        return _Params(len(cents[0][1]), cents=cents)

    def encode(self, df, p, vec_col, id_col, extras, caller):
        return df.select(
            F.col(id_col),
            _dim_guard_col(F.col(vec_col), p.dim, caller).alias(vec_col),
            _ivf_cell_col(F.col(vec_col), p.cents).alias("cell"),
            *extras,
        )

    def write_meta(self, spark, staged, p):
        _write_meta(
            spark, staged, "_centroids",
            [(i, cid, vec) for i, (cid, vec) in enumerate(p.cents)],
            "cell int, cent_id bigint, centroid array<double>",
        )

    def probe_keys(self, q, p, nprobe=ANN_NPROBE, **_):
        return _ivf_probe_cells(q, p.cents, nprobe)


class _Pq(_Family):
    name, append = "PQ", "append_to_ann_pq_index"
    meta = frozenset({"_pq_codebooks", "_pq_meta"})
    data = "/codes"
    score_col = "adot"

    def train(self, df, vec_col, id_col, dim, caller, m, ksub, lloyd_iters):
        cbs = pq_codebooks(df, m, ksub, dim, vec_col, id_col, lloyd_iters)
        return _Params(dim, cbs=cbs)

    def load(self, spark, path, caller, **_):
        dim, cbs = _load_pq_index(spark, path)
        return _Params(dim, cbs=cbs)

    def encode(self, df, p, vec_col, id_col, extras, caller):
        return df.select(
            F.col(id_col),
            _pq_code_col(F.col(vec_col), p.cbs).alias("code"),
            _dim_guard_col(F.col(vec_col), p.dim, caller).alias(vec_col),
            *extras,
        )

    def write_meta(self, spark, staged, p):
        _write_meta(
            spark, staged, "_pq_codebooks",
            [(j, c, sub) for j, book in enumerate(p.cbs) for c, sub in enumerate(book)],
            "j int, c int, sub array<double>",
        )
        row = (len(p.cbs), len(p.cbs[0]), int(p.dim))
        schema = "m int, ksub int, dim int"
        if p.nlist is not None:  # IVF-PQ also records its cell count
            row, schema = row + (int(p.nlist),), schema + ", nlist int"
        _write_meta(spark, staged, "_pq_meta", [row], schema)

    def qvals(self, q, p):
        return {"__tbl": _pq_query_table(q, p.cbs)}

    def score(self, p, qc, vec_col):
        return _adc(p.cbs, qc["__tbl"], F.lit(0.0))


class _IvfPq(_Ivf):
    name, append = "IVF-PQ", "append_to_ann_ivfpq_index"
    meta = _Ivf.meta | _Pq.meta
    score_col = "adot"

    def train(self, df, vec_col, id_col, dim, caller, m, ksub, pq_lloyd_iters, **kw):
        from .dedup import spread_small_input

        p = super().train(df, vec_col, id_col, dim, caller, **kw)
        # the residual encode is the CPU-heavy part of codebook training
        p.cbs = pq_codebooks(
            self._residuals(spread_small_input(df), p, vec_col, id_col, ()),
            m, ksub, dim,
            vec_col="__resid", id_col=id_col, lloyd_iters=pq_lloyd_iters,
        )
        return p

    def load(self, spark, path, caller, **_):
        dim, cbs = _load_pq_index(spark, path)
        return _Params(dim, cents=_load_centroids(spark, path), cbs=cbs)

    @staticmethod
    def _residuals(df, p, vec_col, id_col, extras):
        """``(id, vec, cell, __resid, extras...)``: each vector's cell and
        its residual ``x - centroid(cell)`` as a REAL column — referenced
        inside the encode's interpreted HOF lambdas, an inline
        element_at/zip_with would be re-evaluated per d2 fold."""
        cell = _ivf_cell_col(F.col(vec_col), p.cents)
        resid = F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.element_at(_planes_lit([c for _cid, c in p.cents]), cell + 1),
            lambda a, b: a - b,
        )
        return df.select(
            F.col(id_col), F.col(vec_col), cell.alias("cell"),
            resid.alias("__resid"), *extras,
        )

    def encode(self, df, p, vec_col, id_col, extras, caller):
        return self._residuals(df, p, vec_col, id_col, extras).select(
            F.col(id_col),
            F.col("cell"),
            _pq_code_col(F.col("__resid"), p.cbs).alias("code"),
            _dim_guard_col(F.col(vec_col), p.dim, caller).alias(vec_col),
            *extras,
        )

    def write_meta(self, spark, staged, p):
        _Ivf.write_meta(self, spark, staged, p)
        _Pq.write_meta(self, spark, staged, p)

    key_cols = ("__cd",)

    def qvals(self, q, p):
        return {"__tbl": _pq_query_table(q, p.cbs)}

    def key_vals(self, q, p, cell):
        return (dot_py(q, p.cents[cell][1]),)

    def score(self, p, qc, vec_col):
        # residual ADC: the query-cell centroid dot, then the table fold
        return _adc(p.cbs, qc["__tbl"], qc["__cd"])


class _Sq8(_Ivf):
    name, append = "IVF-SQ8", "append_to_ann_ivfsq8_index"
    meta = _Ivf.meta | {"_sq_meta"}
    # reserved for this family only: an IVF/LSH index with a user extra
    # named "scale" keeps working
    reserved = ("scale", "codes")
    score_col = "acos"

    def load(self, spark, path, caller, **_):
        dim = _load_sq_meta_dim(spark, path)
        return _Params(dim, cents=_load_centroids(spark, path))

    def encode(self, df, p, vec_col, id_col, extras, caller):
        # the raw vector is KEPT (like IVF-PQ) so rerank can read exact
        # embeddings for R ids; columnar pruning keeps it out of
        # code-only probe scans
        staged = df.select(
            F.col(id_col),
            _dim_guard_col(F.col(vec_col), p.dim, caller).alias(vec_col),
            _to_double(F.col(vec_col)).alias("__v"),
            _ivf_cell_col(F.col(vec_col), p.cents).alias("cell"),
            *extras,
        ).withColumn("scale", _sq8_scale(F.col("__v")))
        return staged.select(
            F.col(id_col),
            F.col("cell"),
            F.col("scale"),
            _sq8_codes(F.col("__v"), F.col("scale")).alias("codes"),
            F.col(vec_col),
            *extras,
        )

    def write_meta(self, spark, staged, p):
        super().write_meta(spark, staged, p)
        _write_meta(
            spark, staged, "_sq_meta",
            [(int(p.dim), "sq8_pervec")], "dim int, scheme string",
        )

    def score(self, p, qc, vec_col):
        # scale == 0 <=> the stored vector is all-zero: its reconstructed
        # cosine is 0/0 — NULL it explicitly (sorts last under DESC) so
        # ANSI mode never trips on the degenerate row
        dec = _sq8_decode(F.col("codes"), F.col("scale"))
        return F.when(F.col("scale") > 0, cosine(dec, qc["__qv"]))


_LSH, _IVF, _PQ, _IVFPQ, _SQ8 = _Lsh(), _Ivf(), _Pq(), _IvfPq(), _Sq8()
_FAMILIES = (_LSH, _IVF, _PQ, _IVFPQ, _SQ8)


def _stored_family(spark, path: str) -> _Family | None:
    """The family whose metadata tables the store at ``path`` holds;
    None when it holds none (missing, empty, or an LSH index a stream
    created without a build)."""
    present = frozenset(_ls(spark, path)) & _ANN_META
    if not present:
        return None
    for fam in _FAMILIES:
        if fam.meta == present:
            return fam
    raise ValueError(
        f"{path!r} holds ANN metadata tables {sorted(present)} of no "
        "known index layout"
    )


def _ann_build(
    fam: _Family, df: DataFrame, path: str, commit: str, vec_col: str,
    id_col: str, dim: int | None, caller: str, extra_cols=(), **train_kw,
) -> None:
    """Build a ``fam`` index at ``path``: stage the whole store, check
    a corpus sample against the declared ``dim``, train, encode the
    spread corpus into the base partition, write the metadata tables,
    publish once (``sources.manifest.staged_store``)."""
    from .dedup import spread_small_input

    for knob in ("lloyd_iters", "pq_lloyd_iters"):
        if train_kw.get(knob, 0) < 0:
            raise ValueError(f"{knob} must be >= 0, got {train_kw[knob]}")
    _check_extra_cols(extra_cols, id_col, vec_col, fam.reserved)
    spark = df.sparkSession
    with staged_store(spark, path, commit) as staged:
        if dim is not None:
            _check_corpus_dim(df, vec_col, dim, caller)
        p = fam.train(df, vec_col, id_col, dim, caller, **train_kw)
        rows = fam.encode(
            spread_small_input(df), p, vec_col, id_col, list(extra_cols), caller
        )
        _write_batch(rows, f"{staged}{fam.data}", fam.key, -1, "overwrite")
        fam.write_meta(spark, staged, p)


def _ann_append(
    fam: _Family, df: DataFrame, path: str, batch_id: int | None,
    vec_col: str, id_col: str, caller: str, **load_kw,
) -> None:
    """Append one batch to a ``fam`` index: resolve the batch
    partition (``sources.manifest.batch_dir``), refuse a store of
    another family (its rows would not match this layout — probes
    would fail on the partition key or read NULL codes), load the
    FROZEN parameters, carry the store's extra columns, encode, write
    the partition and its occupancy stats. A store with no metadata
    bootstraps an LSH index; every other family's loader raises
    "build first" on it."""
    from .dedup import spread_small_input

    spark = df.sparkSession
    path, part, mode = batch_dir(spark, path, batch_id)
    found = _stored_family(spark, path)
    if found not in (None, fam):
        diff = [f"missing {t}" for t in sorted(fam.meta - found.meta)]
        diff += [f"has {t}" for t in sorted(found.meta - fam.meta)]
        raise ValueError(
            f"{caller}: {path!r} holds an {found.name} index, not "
            f"{fam.name} ({', '.join(diff)}) — use {found.append}"
        )
    p = fam.load(spark, path, caller, **load_kw)
    extras = []
    if fam.extras:
        idx = spark.read.parquet(f"{path}{fam.data}")
        extras = _index_extra_cols(idx, id_col, vec_col, fam.reserved)
    rows = fam.encode(spread_small_input(df), p, vec_col, id_col, extras, caller)
    _write_batch(rows, f"{path}{fam.data}", fam.key, part, mode)


def _ann_probe(
    fam: _Family, spark, index_path: str, query, k: int, caller: str, *,
    nprobe: int | None = None, rerank: int | None = None,
    vec_col: str = "embedding", id_col: str = "vec_id", where=None,
    before_batch: int | None = None, query_id_col: str = "query_id",
    query_vec_col: str = "query_vec", n_planes: int | None = None,
    probe_bits: int = 0, probe_hamming: int = 1,
) -> DataFrame:
    """Probe a ``fam`` index with one query vector — ``(id, rank,
    <score_col>)`` — or with a DataFrame of queries — ``(query_id, id,
    <score_col>, rank)``. One front door validates ``k``/``nprobe``/
    ``rerank`` and every query's dim (NULL or mismatched vectors would
    NULL-fold every score), one read prunes the store (batch fence,
    key ``isin`` over the probed buckets/cells — the union over a
    batch — and the ``where`` pre-filter), and ``fam.score`` ranks it.
    A single query keeps ``orderBy.limit`` (TakeOrderedAndProject)
    with literal query values; a batch joins its (query, key) pairs
    and per-query values as broadcasts and ranks per query in one
    window. ``rerank=R`` re-ranks each query's top R by exact cosine,
    reading embeddings for those ids alone, and returns ``cos``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if nprobe is not None and nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if rerank is not None and rerank < k:
        raise ValueError(f"rerank ({rerank}) must be >= k ({k})")
    path = resolve_root(spark, index_path)
    single = not isinstance(query, DataFrame)
    if single:
        q = [float(x) for x in query]
        # an index with no recorded dim (stream-created LSH) adopts it
        p = fam.load(
            spark, path, caller, n_planes=n_planes, fallback_dim=len(q)
        )
        if len(q) != p.dim:
            raise ValueError(f"query dim {len(q)} != index dim {p.dim}")
        qbatch = [(None, q)]
    else:
        p = fam.load(spark, path, caller)
        qid_type, qbatch = _collect_query_batch(
            query, query_id_col, query_vec_col, p.dim
        )
    idx = _before_batch(
        spark.read.parquet(f"{path}{fam.data}"), before_batch
    )
    rows = idx
    if fam.key is not None:
        pairs = [
            (qid, int(key), *fam.key_vals(v, p, key))
            for qid, v in qbatch
            for key in fam.probe_keys(
                v, p, nprobe=nprobe, probe_bits=probe_bits,
                probe_hamming=probe_hamming,
            )
        ]
        keys = sorted({pair[1] for pair in pairs})
        rows = rows.filter(F.col(fam.key).isin(keys))
    rows = _apply_where(rows, where)
    take = k if rerank is None else rerank
    if single:
        qc = {n: _vec_lit(v) for n, v in fam.qvals(q, p).items()}
        for i, n in enumerate(fam.key_cols):
            # one literal over every cell, indexed by the row's cell
            per_cell = [fam.key_vals(q, p, c)[i] for c in range(len(p.cents))]
            qc[n] = F.element_at(_vec_lit(per_cell), F.col(fam.key) + 1)
        ranked = _top_single(
            rows, fam.score(p, qc, vec_col), fam.score_col, take, id_col
        )
        if rerank is None:
            return ranked
        vecs = idx.select(id_col, vec_col).join(ranked.select(id_col), id_col)
        return _top_single(
            vecs, cosine(F.col(vec_col), _vec_lit(q)), "cos", k, id_col
        )

    def query_rows(data, fields):
        schema = StructType([StructField(query_id_col, qid_type), *fields])
        return local_rows_df(spark, data, schema)

    vals = [(qid, fam.qvals(v, p)) for qid, v in qbatch]
    names = list(vals[0][1])
    qv = query_rows(
        [(qid, *d.values()) for qid, d in vals],
        [StructField(n, ArrayType(DoubleType())) for n in names],
    )
    if fam.key is None:
        # declared-crossjoin: code scan x broadcast QUERY BATCH — the
        # batch is the retrieval workload (bounded), and the product is
        # the definitional score relation (flat PQ scores every query
        # against every code; the IVF families prune by cell)
        scored = rows.crossJoin(F.broadcast(qv))
    else:
        qkeys = query_rows(
            pairs,
            [
                StructField(fam.key, IntegerType()),
                *[StructField(n, DoubleType()) for n in fam.key_cols],
            ],
        )
        scored = rows.join(F.broadcast(qkeys), fam.key).join(
            F.broadcast(qv), query_id_col
        )
    score = fam.score(p, {n: F.col(n) for n in names + list(fam.key_cols)}, vec_col)
    ranked = _top_batch(
        scored, score, fam.score_col, take, id_col, query_id_col
    )
    if rerank is None:
        return ranked
    if names != ["__qv"]:
        qv = query_rows(qbatch, [StructField("__qv", ArrayType(DoubleType()))])
    cand = (
        ranked.select(query_id_col, id_col)
        .join(idx.select(id_col, vec_col), id_col)
        .join(F.broadcast(qv), query_id_col)
    )
    return _top_batch(
        cand, cosine(F.col(vec_col), F.col("__qv")), "cos", k, id_col,
        query_id_col,
    )


def ann_pq_join_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    rerank: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    where=None,
    before_batch: int | None = None,
) -> DataFrame:
    """Batch ANN against a persisted PQ index — the R-S form of
    :func:`ann_pq_topk_indexed`: score EVERY query of ``queries`` by
    ADC in one job over ONE code-column scan (the embedding column is
    pruned from the scan entirely — at the defaults the compressed
    read is ~16x less IO than exact ranking, amortized across the
    whole batch). Per-query ADC tables (m*ksub doubles each) are
    computed driver-side in the same strict IEEE fold order as the
    engine and ride back as one broadcast relation.

    Returns ``(query_id, id, adot, rank)`` with rank 1..k per query;
    ``rerank=R`` re-ranks each query's top-R ADC candidates by EXACT
    cosine — reading embeddings for those |queries|*R ids alone — and
    returns ``(query_id, id, cos, rank)`` (with ``R >= |corpus|`` the
    output is BITWISE :func:`cosine_join`; pinned in tests).

    Scale shape: flat PQ has no partition pruning (that is IVF-PQ's
    job — :func:`ann_ivfpq_join_indexed`); its 100 TB story is the
    columnar one: the scan reads m small ints per vector, scores the
    whole batch against each Arrow batch executor-side (broadcast
    tables, no shuffle before the per-query top-k window), and only
    the rerank tail ever touches float data."""
    return _ann_probe(
        _PQ, spark, index_path, queries, k, "ann_pq_join_indexed",
        rerank=rerank, vec_col=vec_col, id_col=id_col, where=where,
        before_batch=before_batch, query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


def ann_ivfpq_join_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = ANN_NPROBE,
    rerank: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    where=None,
    before_batch: int | None = None,
) -> DataFrame:
    """Batch ANN against a persisted IVF-PQ index — the R-S form of
    :func:`ann_ivfpq_topk_indexed` and the full 100 TB dense batch
    probe: every query's ``nprobe`` best cells are ranked driver-side
    against the bounded nlist-row centroid table, the index scan
    prunes to the UNION of the batch's probed cell directories at
    planning time (``PartitionFilters``) reading the CODE column only,
    and each (query, candidate) pair scores by residual ADC —
    ``dot(q, centroid(cell)) + ordered table fold`` — with the
    per-(query, cell) centroid dots and per-query tables riding in as
    broadcasts. Cell pruning x columnar pruning x batch amortization:
    no full-table scan, no embedding bytes read (until the optional
    rerank tail).

    Returns ``(query_id, id, adot, rank)`` rank 1..k per query;
    ``rerank=R`` re-ranks each query's top-R by exact cosine (reads
    embeddings for those ids alone) returning
    ``(query_id, id, cos, rank)``. With ``nprobe >= nlist`` and
    ``rerank >= |corpus|`` the output is BITWISE :func:`cosine_join`
    (pinned in tests).

    |Q| ceiling: the query batch (vectors + per-query ADC tables,
    8*(dim + m*ksub) bytes per query) is driver-materialized by
    design — 10^5 queries at the defaults is well under 1 GB;
    millions of queries should chunk the batch and union the outputs
    (per-query independence makes chunking semantics-free)."""
    return _ann_probe(
        _IVFPQ, spark, index_path, queries, k, "ann_ivfpq_join_indexed",
        nprobe=nprobe, rerank=rerank, vec_col=vec_col, id_col=id_col,
        where=where, before_batch=before_batch, query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )


def auto_planes(n: int, target_bucket: int = 32) -> int:
    """Banding depth derived from corpus count — the LSH analogue of
    the shuffle-partition heuristic. Bucket occupancy is
    ``n / 2^planes``, so fixing the depth makes candidate pairs (and
    the verify stage) grow quadratically with the corpus (measured:
    PARITY.md round-7 scaling rows — 10x corpus at fixed depth 4 was
    11.1x wall-clock; depth 7 restored 2.2x). This rule keeps expected
    occupancy near ``target_bucket``: ``ceil(log2(n/target_bucket))``,
    clamped to [4, 16] (floor: tiny corpora still spread across >= 16
    buckets; ceiling: per-table recall ``(1-θ/π)^planes`` must stay
    recoverable by the OR over tables)."""
    import math

    return min(16, max(4, math.ceil(math.log2(max(n, 1) / target_bucket))))


def _multi_table_buckets(
    df: DataFrame,
    n_planes: int,
    n_tables: int,
    dim: int,
    vec_col: str,
    id_col: str,
    probe_bits: int = 0,
    guard_caller: str | None = None,
) -> DataFrame:
    """(id, t, bucket) rows for the multi-table sign-bit LSH — table
    ``t`` buckets by the sign bits of planes ``t*n_planes ..
    t*n_planes+n_planes-1``. Shared bitwise-identically by
    ``cosine_neardup_pairs_lsh`` (self near-dup) and ``knn_join_lsh``
    (cross-corpus retrieval); the gate queries pin the construction
    against DuckDB's replay. ``probe_bits=m`` additionally emits, per
    table, the ``m`` buckets at one-bit flips of the least-confident
    planes — the query-side multiprobe expansion (1+m rows per
    (vector, table) instead of 1).

    The plane matrix rides in as ONE constant-folded literal
    (_planes_lit) instead of n_tables*n_planes*dim inlined F.lit()
    nodes. Measured (r6, sf0.1, 48 planes x 64 dims): the inlined
    tree cost ~4 s PER CALL of pure Python/py4j DataFrame
    construction before Spark ever saw the plan — 70%+ of b13's
    wall-clock was driver-side expression building, not execution.
    Worker-side math is untouched: same planes, same strict left-fold
    dot, bitwise-identical buckets.

    ``guard_caller`` (ADVICE r14) arms the per-row read-path dim
    guard: the ``__bits``/``__dots`` projection that materializes the
    sign construction is wrapped with :func:`_batch_dim_guard`, so a
    MIXED-dim input fails loudly at bucket time instead of NULL-
    folding its rows' buckets away. Riding the already-materialized
    column keeps the size() check at once per row (wrapping the
    VECTOR would re-evaluate it per plane inside the HOF lambdas)."""
    if probe_bits < 0:
        raise ValueError(f"probe_bits must be >= 0, got {probe_bits}")
    flat = [
        _hyperplane(t * n_planes + p, dim)
        for t in range(n_tables)
        for p in range(n_planes)
    ]
    planes = _planes_lit(flat)
    vec_d = F.col(vec_col).cast("array<double>")

    # sign bits of all planes in one pass, materialized as a REAL
    # column: element_at(<expr>, i) re-evaluates <expr> per lookup in
    # interpreted HOF context (no CSE inside lambdas), so referencing
    # the 48-dot transform by name is what keeps it evaluated once
    bits = F.transform(
        planes, lambda p: F.when(_dot_dbl(vec_d, p) >= 0, 1).otherwise(0)
    )
    if guard_caller is not None:
        bits = _batch_dim_guard(bits, F.col(vec_col), dim, guard_caller)
    pow2 = F.array(*[F.lit(1 << p) for p in range(n_planes)])
    bcol = F.col("__bits")

    def base_bucket(t):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            F.lit(0),
            lambda acc, p: acc
            + F.element_at(bcol, t * n_planes + p + 1)
            * F.element_at(pow2, p + 1),
        )

    if probe_bits == 0:
        tb = F.transform(
            F.sequence(F.lit(0), F.lit(n_tables - 1)),
            lambda t: F.struct(t.alias("t"), base_bucket(t).alias("bucket")),
        )
        # bucket table carries IDS ONLY — the 8-way explode and the
        # (t, bucket) join never ship the 64-float embeddings (that
        # would push 8 copies of every vector through the shuffle);
        # embeddings are joined back exactly once per side for the verify.
        return (
            df.select(F.col(id_col), bits.alias("__bits"))
            .select(F.col(id_col), F.explode(tb).alias("tb"))
            .select(id_col, "tb.t", "tb.bucket")
        )

    # multiprobe: per table, also emit the buckets reached by flipping
    # each of the probe_bits LEAST-CONFIDENT sign bits (smallest |dot|
    # — the engine-side twin of the driver-side _multiprobe_buckets
    # heuristic; ties break on plane index via the struct sort). All
    # pure Catalyst array ops: dots are computed once per vector,
    # ranked per table with array_sort, and each flip is one XOR of
    # the base bucket with that plane's power of two.
    dots = F.transform(planes, lambda p: _dot_dbl(vec_d, p))
    if guard_caller is not None:
        dots = _batch_dim_guard(dots, F.col(vec_col), dim, guard_caller)
    dcol = F.col("__dots")
    bits_from_dots = F.transform(
        dcol, lambda d: F.when(d >= 0, 1).otherwise(0)
    )

    def probed(t):
        base = base_bucket(t)
        conf = F.array_sort(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_planes - 1)),
                lambda p: F.struct(
                    F.abs(
                        F.element_at(dcol, t * n_planes + p + 1)
                    ).alias("a"),
                    p.alias("p"),
                ),
            )
        )
        flips = F.slice(conf, 1, min(probe_bits, n_planes))
        return F.concat(
            F.array(base),
            F.transform(
                flips,
                lambda s: base.bitwiseXOR(F.element_at(pow2, s["p"] + 1)),
            ),
        )

    tb = F.transform(
        F.sequence(F.lit(0), F.lit(n_tables - 1)),
        lambda t: F.struct(t.alias("t"), probed(t).alias("buckets")),
    )
    return (
        df.select(F.col(id_col), dots.alias("__dots"))
        .select(F.col(id_col), bits_from_dots.alias("__bits"), dcol)
        .select(F.col(id_col), F.explode(tb).alias("tb"))
        .select(id_col, "tb.t", F.explode("tb.buckets").alias("bucket"))
    )


def _occupancy_filter(
    b: DataFrame,
    max_bucket: int,
    keys: tuple = ("t", "bucket"),
    arg_name: str = "max_bucket",
    stats: DataFrame | None = None,
) -> DataFrame:
    """Drop ``keys`` groups holding more than ``max_bucket`` members —
    the degenerate-cluster guard shared by the self near-dup and
    knn-join constructions (``(t, bucket)``), the incremental LSH
    form (``("bucket",)``) and the IVF near-dup's ``max_cell``
    (``("cell",)``): ONE implementation so the guards can't diverge.
    Validates the bound centrally (round-14 review): ``0`` would drop
    EVERY bucket and silently report zero pairs — the silent-empty
    failure class the dim guards exist to prevent.

    ``stats`` (VERDICT r14 item 2): the persisted ``(key, occ_n)``
    delta rows from :func:`_load_occ_counts`. When given, the guard
    never aggregates ``b`` at all — at 10^10 index rows that groupBy
    is a corpus-scale shuffle paid per nightly guarded run. Instead
    the HOT keys (occupancy > ``max_bucket``: the rare degenerate
    ones, bounded above by the whole bucket/cell space — nlist cells
    or <= 2^16 LSH buckets, always broadcastable metadata) come from
    a metadata-scale sum of the side table and are removed with a
    broadcast ANTI join: a map-side filter over ``b``, no shuffle.
    The side table covers every row the write paths landed, so the
    surviving candidate pairs are identical to the recount's (pinned
    in tests/test_occ_stats.py; the one formal difference — an anti
    join keeps NULL-key rows the recount's inner join dropped — is
    invisible downstream, since a NULL key can never match the
    candidate equi-join). Callers pass ``None`` (recount) for ad-hoc
    relations with no persisted store."""
    if max_bucket < 1:
        raise ValueError(f"{arg_name} must be >= 1, got {max_bucket}")
    keys = list(keys)
    if stats is not None:
        hot = (
            stats.groupBy(*keys)
            .agg(F.sum("occ_n").alias("bn"))
            .filter(F.col("bn") > max_bucket)
            .drop("bn")
        )
        return b.join(F.broadcast(hot), on=keys, how="left_anti")
    occ = (
        b.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") <= max_bucket)
        .drop("bn")
    )
    return b.join(occ, on=keys)


def knn_join_lsh(
    left: DataFrame,
    right: DataFrame,
    k: int,
    n_planes: int | None = None,
    n_tables: int = 8,
    dim: int = ANN_DIM,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int | None = None,
    target_bucket: int = 32,
    exact_fallback: bool = False,
    probe_bits: int = 0,
) -> DataFrame:
    """Batch k-NN JOIN: for every left vector, its top-``k`` cosine
    neighbors among the right corpus that share at least one LSH
    bucket — the retrieval shape batch pipelines run (nearest training
    docs per eval prompt, cross-corpus contamination analysis,
    retrieval-augmented labeling), as one relational job instead of
    n_left separate ANN queries.

    Both sides bucket with the SAME seeded planes (multi-table
    OR-construction, shared with ``cosine_neardup_pairs_lsh``);
    candidates are the (t, bucket) equi-join projected to id pairs —
    never a cross join; the exact strict-fold cosine verifies each
    candidate once; ``row_number`` over (cos desc, right id) takes the
    deterministic top-k per left id. Like every LSH construction here,
    recall is the banding trade-off and precision of returned
    neighbors is exact.

    ``probe_bits=m`` is the recall knob the single-query ANN path has
    (:func:`ann_lsh_topk`): each left vector also probes, per table,
    the ``m`` buckets at one-bit flips of its least-confident planes —
    computed engine-side in pure Catalyst (dots ranked with
    array_sort, flips as XORs), so candidate lookups grow (1+m)x on
    the left side only while the right corpus is bucketed once.
    Compose with the auto depth: deeper banding for cost, probes to
    buy the recall back.

    Output: (left_id, right_id, cos, rank), rank 1..k. Left vectors
    with no bucket collision produce no rows by default;
    ``exact_fallback=True`` brute-forces ONLY those misses against the
    full right corpus (an anti-join finds them; their candidate set
    becomes miss x right, verified by the same exact cosine), making
    the join total over non-zero-norm lefts. Cost is
    |misses| * |right| verifies — safe when misses are the tail the
    OR-construction makes them (per-left miss probability is
    ``(1-p^n_planes)^n_tables``), which is why it is opt-in rather
    than the default at 100 TB.

    Scale: shuffle volume is ids-only until the verify; the per-left
    candidate count is bounded by n_tables x bucket occupancy
    (``max_bucket`` caps degenerate cells); the final rank is a
    per-left-id window over verified candidates only.

    SCALING — ``n_planes`` must grow with corpus size, like shuffle
    partition count: bucket occupancy is N / 2^n_planes, so candidate
    pairs grow ~|L||R|/2^n_planes. Measured (tools/scale_probe.py,
    PARITY.md round-7 scaling rows): 10x both sides at a FIXED
    n_planes=4 is 11.1x wall-clock (the quadratic term); deepening to
    n_planes=7 for the 10x corpus restores 2.2x. The default
    ``n_planes=None`` therefore derives the depth from the corpus:
    ``clamp(ceil(log2(max(|L|,|R|) / target_bucket)), 4, 16)`` — the
    same rule ``cosine_neardup_pairs_lsh`` uses, auto-applied so a
    fixed default can never become the 100 TB scale-killer. The two
    ``count()`` jobs it costs are metadata-cheap (column-pruned scans)
    next to the candidate join they right-size. Pass an explicit
    ``n_planes`` to pin the construction (the oracle-gated query pins
    4 so its DuckDB twin can mirror the exact bucket space).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from .dedup import spread_small_input

    if n_planes is None:
        n_planes = auto_planes(max(left.count(), right.count()), target_bucket)
    # zero-norm vectors have no defined cosine: the verify below drops
    # them anyway, so bucketing them is pure waste — and worse, a left
    # whose ONLY bucket collisions were zero-norm rights would not be
    # counted a miss by the exact_fallback anti-join (it HAD candidates,
    # all dropped at verify), silently voiding the documented totality
    # over non-zero-norm lefts (ADVICE r8). Exclude them BEFORE
    # candidate generation on both sides.
    nz = dot_strict(F.col(vec_col), F.col(vec_col)) > 0
    left = spread_small_input(left.filter(nz))
    right = spread_small_input(right.filter(nz))
    # probe_bits expands only the LEFT (query) side — the standard
    # query-side multiprobe: recall rises with (1 + probe_bits) bucket
    # lookups per table while the right corpus is bucketed exactly once
    lb = _multi_table_buckets(
        left, n_planes, n_tables, dim, vec_col, id_col, probe_bits
    )
    rb = _multi_table_buckets(right, n_planes, n_tables, dim, vec_col, id_col)
    if max_bucket is not None:
        rb = _occupancy_filter(rb, max_bucket)
    cand = (
        lb.select("t", "bucket", F.col(id_col).alias("left_id"))
        .join(
            rb.select("t", "bucket", F.col(id_col).alias("right_id")),
            on=["t", "bucket"],
        )
        .select("left_id", "right_id")
        .distinct()
    )
    if exact_fallback:
        # lefts with no collision in ANY table: their candidates are
        # the whole right side (ids only — the shared verify below
        # computes the cosines). The anti-join keys on ids, so this
        # adds zero cost when every left collides.
        misses = left.select(F.col(id_col).alias("left_id")).join(
            cand.select("left_id").distinct(), "left_id", "left_anti"
        )
        cand = cand.unionByName(
            # declared-crossjoin: opt-in exact fallback, misses only
            misses.crossJoin(right.select(F.col(id_col).alias("right_id")))
        )
    w = Window.partitionBy("left_id").orderBy(
        F.desc("cos"), F.asc("right_id")
    )
    return (
        _verify_pairs(cand, left, right, ("left_id", "right_id"), vec_col, id_col)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("left_id", "right_id", "cos", "rank")
    )


def _verify_pairs(
    cand: DataFrame, left: DataFrame, right: DataFrame, ids: tuple,
    vec_col: str, id_col: str, threshold: float | None = None,
) -> DataFrame:
    """The one exact-cosine verify of candidate id pairs: ``cand``
    holds the ``ids = (left id, right id)`` columns naming rows of
    ``left`` and ``right``. Returns ``cand`` plus ``cos`` (and its
    verify columns), filtered to ``cos >= threshold`` when given.

    Each side's vectors are cast to double and their norms folded
    ONCE per vector, so a pair costs one strict fold, not three —
    the same products in the same order as ``cosine``, so ``cos``
    stays bitwise-equal to the oracle's inline cosine. Zero-norm
    vectors have no defined cosine (under ANSI mode 1.0/0.0 aborts
    the job) and are dropped on both sides. ``cand`` is re-spread
    first: AQE sizes post-shuffle partitions by BYTES, and two-id
    rows would coalesce the CPU-heavy verify onto one or two
    cores."""
    sc = cand.sparkSession.sparkContext
    cand = cand.repartition(sc.defaultParallelism)
    norm = F.sqrt(dot_strict(F.col(vec_col), F.col(vec_col)))
    for i, (df, name) in enumerate(zip((left, right), ids)):
        side = df.select(
            F.col(id_col).alias(name),
            F.col(vec_col).cast("array<double>").alias(f"__e{i}"),
            norm.alias(f"__n{i}"),
        )
        cand = cand.join(side.filter(F.col(f"__n{i}") > 0), name)
    out = cand.withColumn(
        "cos",
        _dot_dbl(F.col("__e0"), F.col("__e1")) / (F.col("__n0") * F.col("__n1")),
    )
    return out if threshold is None else out.filter(F.col("cos") >= threshold)


def _neardup_against(
    fam: _Family, batch: DataFrame, index_path: str, threshold: float,
    vec_col: str, id_col: str, cap: int | None, cap_name: str, caller: str,
    batch_keys, **load_kw,
) -> DataFrame:
    """Near-dup of a new batch against a persisted ``fam`` index: the
    body both ``cosine_neardup_against_*`` forms share. They differ
    only in the candidate key — ``batch_keys(batch, params)`` gives
    the batch's ``(doc_new, <fam.key>)`` rows. Candidates are the key
    equi-join against the index's ``(doc_old, key)`` columns (ids only
    through the shuffle; the ``cap`` hot-key guard drops index keys
    holding more than ``cap`` vectors, from the persisted occupancy
    side table when it is fresh), then :func:`_verify_pairs`."""
    from .dedup import spread_small_input

    if cap is not None and cap < 1:
        raise ValueError(f"{cap_name} must be >= 1, got {cap}")
    spark = batch.sparkSession
    path = resolve_root(spark, index_path)
    p = fam.load(spark, path, caller, **load_kw)
    # dim discipline: a wrong-dim batch NULL-folds every key
    # assignment AND every verify cosine, so the job would silently
    # report ZERO duplicate pairs. Eager one-row check first (fails
    # before any work); the per-row guard inside batch_keys catches
    # MIXED-dim batches the sample can't see.
    # bounded-collect: one sampled row for eager dim validation
    sample = batch.filter(F.col(vec_col).isNotNull()).select(vec_col).head()
    if sample is not None and len(sample[0]) != p.dim:
        raise ValueError(
            f"{caller}: batch {vec_col!r} has dim {len(sample[0])} but the "
            f"index at {path!r} holds dim-{p.dim} vectors — a mismatched "
            f"batch would NULL-fold every {fam.key} assignment and silently "
            "return zero duplicate pairs"
        )
    batch = spread_small_input(batch)
    idx = spark.read.parquet(path)
    idxk = idx.select(F.col(id_col).alias("doc_old"), fam.key)
    if cap is not None:
        # occupancy is measured on the INDEX side: the factor that
        # multiplies every colliding batch vector's candidate count
        idxk = _occupancy_filter(
            idxk, cap, keys=(fam.key,), arg_name=cap_name,
            stats=_load_occ_counts(spark, path, fam.key),
        )
    cand = (
        batch_keys(batch, p)
        .join(idxk, on=fam.key)
        .filter(F.col("doc_old") != F.col("doc_new"))
        .select("doc_old", "doc_new")
        .distinct()
    )
    return _verify_pairs(
        cand, batch, idx, ("doc_new", "doc_old"), vec_col, id_col, threshold
    ).select("doc_old", "doc_new", "cos")


def cosine_neardup_against_index(
    batch: DataFrame,
    index_path: str,
    threshold: float,
    n_planes: int | None = None,
    dim: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_bits: int = 0,
    max_bucket: int | None = None,
) -> DataFrame:
    """Incremental embedding near-dup: new-batch vectors vs a
    PERSISTED LSH index (built by ``build_ann_lsh_index``, grown by
    ``append_to_ann_lsh_index`` / ``stream_index_embeddings``) — the
    embedding-modality twin of the text pipeline's
    ``dedup_against_store``. Per nightly batch the cost is O(batch
    buckets ⋈ index buckets): the batch is sign-bucketed with the
    SAME seeded planes the index stores, candidates are the bucket
    equi-join projected to id pairs (ids only through the shuffle),
    and the exact strict-fold cosine verifies each candidate once.
    The full index embedding column is read only for bucket-colliding
    rows.

    ``probe_bits`` lifts recall exactly as in :func:`knn_join_lsh`
    (measured there: 0.67 -> 0.96 @ 2 probes): the batch side also
    joins the buckets at one-bit flips of its least-confident planes.
    Exact duplicates are ALWAYS found at any ``probe_bits`` when
    ``max_bucket`` is unset (identical vectors share identical sign
    bits); with ``max_bucket`` set, an exact duplicate whose indexed
    copy sits in a dropped hot bucket is NOT reported — collapse
    identical-vector blobs with ``exact_dedup`` first. Precision is
    1.0 (exact verify).

    Returns ``(doc_old, doc_new, cos)`` — index id, batch id, cosine
    >= threshold — the same earlier-wins orientation as
    ``dedup_against_store``: drop/flag ``doc_new``. Assumes batch and
    index ids are distinct namespaces; identical ids are filtered
    defensively (a vector must not near-dup itself).

    ``max_bucket`` (optional) is the hot-bucket guard of the IVF
    twin's ``max_cell``:
    index buckets holding more than ``max_bucket`` vectors are
    dropped from candidate generation. Recall trade: pairs whose
    INDEXED member sits in a dropped hot bucket are not reported.
    Default ``None`` keeps the construction exact w.r.t. the bucket
    rule — the oracle-gated row relies on that."""
    caller = "cosine_neardup_against_index"

    def buckets(b: DataFrame, p: _Params) -> DataFrame:
        return _multi_table_buckets(
            b, len(p.planes), 1, p.dim, vec_col, id_col, probe_bits,
            guard_caller=caller,
        ).select(F.col(id_col).alias("doc_new"), "bucket")

    return _neardup_against(
        _LSH, batch, index_path, threshold, vec_col, id_col, max_bucket,
        "max_bucket", caller, buckets, n_planes=n_planes, dim=dim,
    )


def cosine_neardup_against_ivf_index(
    batch: DataFrame,
    index_path: str,
    threshold: float,
    nprobe: int = ANN_NPROBE,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell: int | None = None,
) -> DataFrame:
    """Incremental embedding near-dup against a persisted IVF-family
    index — ONE store serving both the ANN queries and the nightly
    dedup job (the operational win over keeping a separate LSH store
    just for :func:`cosine_neardup_against_index`): each new-batch
    vector joins only the index rows in its ``nprobe``
    nearest-centroid cells (the same native argmax/top-n cell rule
    the index build and probes use — ``_ivf_probe_cells_col``), and
    the exact strict-fold cosine verifies each candidate once.
    Works unchanged against every IVF-family layout — raw-float
    (``build_ann_ivf_index``), IVF-SQ8 (``build_ann_ivfsq8_index``)
    and IVF-PQ (``build_ann_ivfpq_index``) — all three store ``cell``
    plus the raw vector column the verify reads, and all three use
    the same seeded centroid pick, so the three layouts answer the
    dedup question row-identically (pinned in tests).

    Returns ``(doc_old, doc_new, cos)`` — index id, batch id, cosine
    >= threshold, the same earlier-wins orientation as the LSH twin:
    drop/flag ``doc_new``. Identical ids are filtered defensively.

    Recall contract: an EXACT duplicate of an indexed vector is
    always found at any ``nprobe`` (identical vectors share the same
    argmax cell); near-dups whose pair straddles a cell boundary need
    ``nprobe > 1``, the standard IVF trade (recall measured in
    tests). Scale shape: candidate generation touches only
    ``(id, cell)`` columns — batch cells x index cells equi-join —
    and the full vector column is joined back for candidate ids
    alone; cost per nightly batch is O(batch x cell occupancy), never
    O(corpus^2).

    ``max_cell`` (optional) is the hot-cell guard, mirroring the LSH
    twin's ``max_bucket`` and the MinHash family's hot-bucket bound:
    index cells holding more than ``max_cell`` vectors are dropped
    from candidate generation — the degenerate-blob bound for corpora
    where one boilerplate cluster lands in a single IVF cell and the
    batch x occupancy candidate set for that cell goes quadratic in
    the blob. Recall trade: pairs whose INDEXED member sits in a
    dropped hot cell are not reported (auto-nlist sizing keeps
    average occupancy near the target, so only degenerate cells hit
    the bound). Default ``None`` keeps the construction exact w.r.t.
    the ``nprobe`` probe rule — the oracle-gated row relies on
    that."""
    caller = "cosine_neardup_against_ivf_index"
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")

    def cells(b: DataFrame, p: _Params) -> DataFrame:
        # the per-row guard wraps the probe OUTPUT, not the vector fed
        # into the HOF folds (ADVICE r14): expressions referenced inside
        # interpreted HOF lambdas are re-evaluated per element, so a
        # guarded VECTOR would recompute the size() check per centroid;
        # the guarded probe-cells array is evaluated ONCE per row
        # (explode materializes its child a single time)
        probe = _batch_dim_guard(
            _ivf_probe_cells_col(F.col(vec_col), p.cents, nprobe),
            F.col(vec_col), p.dim, caller,
        )
        return b.select(
            F.col(id_col).alias("doc_new"), F.explode(probe).alias("cell")
        )

    return _neardup_against(
        _IVF, batch, index_path, threshold, vec_col, id_col, max_cell,
        "max_cell", caller, cells,
    )


def cosine_neardup_pairs_lsh(
    df: DataFrame,
    threshold: float,
    n_planes: int | None = None,
    n_tables: int = 8,
    dim: int = ANN_DIM,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    target_bucket: int = 32,
    max_bucket: int | None = None,
) -> DataFrame:
    """Scale path for embedding near-dup: multi-table sign-bit LSH
    (OR-construction) then exact-cosine verify within buckets.

    ``max_bucket`` (optional) mirrors the dedup families' hot-bucket
    guard: (table, bucket) cells holding more than ``max_bucket``
    vectors are dropped from candidate generation — the degenerate-
    cluster bound for corpora where one sign pattern captures a huge
    blob. Default None keeps the construction exact w.r.t. the
    OR-construction (the oracle-gated query relies on that).

    ``n_planes=None`` sizes the bucket space to the corpus via
    ``auto_planes`` (clamp(ceil(log2(n / target_bucket)), 4, 16)) —
    bucket count must grow
    with n or the "scale path" degenerates toward all-pairs (at 16
    fixed buckets a 10^9-vector corpus would put ~6*10^7 vectors in
    every bucket). More planes per table lowers per-table recall by the
    standard ``(1-θ/π)^n_planes`` factor — the OR over ``n_tables``
    is the compensating knob. Pass an explicit ``n_planes`` to pin the
    construction (the oracle-gated query pins 4).

    Each of ``n_tables`` hash tables buckets every vector by the sign
    bits of ``n_planes`` seeded hyperplanes (table ``t`` uses planes
    ``t*n_planes .. t*n_planes+n_planes-1``); a pair is a candidate if
    it collides in ANY table (explode + equi-join on (table, bucket) +
    distinct), then candidates are verified with the exact strict-fold
    cosine. Collision probability per table for angle θ is
    ``(1-θ/π)^n_planes``; OR over tables lifts recall to
    ``1-(1-p)^n_tables`` while candidate generation stays a bucket
    equi-join — never the O(n^2) cross join of
    ``cosine_neardup_pairs``. Precision is 1.0 (exact verify)."""
    from .dedup import spread_small_input

    if n_planes is None:
        n_planes = auto_planes(df.count(), target_bucket)
    df = spread_small_input(df)
    # n_tables short rows per vector: materialize once instead of
    # running the sign-bit bucket construction on BOTH self-join
    # sides (same build-once rationale as minhash_lsh_pairs)
    b = _multi_table_buckets(
        df, n_planes, n_tables, dim, vec_col, id_col
    ).localCheckpoint(eager=True)
    if max_bucket is not None:
        b = _occupancy_filter(b, max_bucket)
    a1 = b.select("t", "bucket", F.col(id_col).alias("vec_a"))
    a2 = b.select("t", "bucket", F.col(id_col).alias("vec_b"))
    cand = (
        a1.join(a2, on=["t", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    return _verify_pairs(
        cand, df, df, ("vec_a", "vec_b"), vec_col, id_col, threshold
    ).select("vec_a", "vec_b")


def semantic_dedup(
    df: DataFrame,
    tau: float = 0.4,
    nlist: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lloyd_iters: int = 0,
    target_cell: int = 256,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and removing within-cluster
    near-duplicates, keeping the copy FURTHEST from the centroid (the
    paper's diversity-preserving pick).

    Procedure (the paper's, made deterministic and relational):

    1. cluster: the IVF assignment — seeded centroids (smallest
       ``(md5(id), id)``; ``lloyd_iters`` k-means steps optional),
       every vector to its max-dot cell;
    2. order each cell by cosine-to-centroid ASC, id ASC — rank 1 is
       the furthest-from-centroid item, the copy the paper's
       ``keep="hard"`` default retains;
    3. remove a vector iff some EARLIER vector in its cell has
       ``cos >= tau`` with it (the paper's upper-triangular max-sim
       test) — so each duplicate set's furthest-from-centroid member
       survives.

    Returns every input id with ``(id, cell, cent_rank, is_kept)`` —
    callers semi-join ``is_kept = 1`` to materialize the survivors.
    Zero-norm embeddings have no defined cosine: they are always kept
    and carry the sentinel ``cell = -1, cent_rank = 0`` (see the
    in-body comment; same contract as :func:`knn_join_lsh`).

    Scale shape: the deliberate cost is the within-cell pairwise
    verify, O(sum cell^2) — SemDeDup's own design trades global O(n^2)
    for per-cluster quadratic work, so cell size is the knob. The
    DEFAULT ``nlist=None`` auto-sizes it: ``ceil(n / target_cell)``
    cells, so expected pair work stays ~n * target_cell — LINEAR in
    corpus size (the paper scales clusters with data the same way:
    50k clusters at 1e9 items; a fixed nlist at 10x the data is 100x
    the pairs — the same trap the auto-sized LSH banding depth closed
    in round 8). Everything else is linear: one bounded nlist-row
    collect, a broadcast centroid join, one within-cell window, and
    the pair join keys on cell — no global shuffle of pairs.
    ``lloyd_iters=0`` keeps the whole construction
    seeded-deterministic (and DuckDB-replayable); refined centroids
    trade that for tighter cells like the IVF index does
    (`_lloyd_refine` notes the float-mean caveat).
    """
    if not 0.0 < float(tau) <= 1.0:
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    from pyspark.sql import Window

    from .dedup import spread_small_input

    # zero-norm embeddings (empty documents) have no defined cosine to
    # ANYTHING — they can neither be duplicates nor remove others — so
    # exclude them BEFORE cell assignment (same contract as
    # knn_join_lsh; ADVICE r9). Left in, their NULL/NaN __cos_cent
    # desyncs cent_rank from the oracle (Spark's ascending window puts
    # NULLS FIRST, DuckDB NULLS LAST) and the NaN pair test silently
    # never fires. They return always-kept under the sentinel cell -1,
    # cent_rank 0 (outside the 1..n real ranks).
    zero_norm = df.filter(
        dot_strict(F.col(vec_col), F.col(vec_col)) <= 0
    ).select(
        F.col(id_col),
        F.lit(-1).cast("long").alias("cell"),
        F.lit(0).cast("long").alias("cent_rank"),
        F.lit(1).alias("is_kept"),
    )
    # round-15: a small parquet corpus arrives as one split, which
    # serialized the per-row assignment fold onto a single core
    # (profile: 3 consecutive 1-task ~1 s stages); no-op at corpus
    # scale where splits >= cores (guide §2.2)
    df = spread_small_input(
        df.filter(dot_strict(F.col(vec_col), F.col(vec_col)) > 0)
    )

    if nlist is None:
        # one count job; same pattern as auto_planes for the kNN join
        nlist = max(1, -(-df.count() // int(target_cell)))
    if nlist < 1:
        raise ValueError(f"nlist must be >= 1, got {nlist}")

    cents = _ivf_centroids(df, nlist, vec_col, id_col)
    if lloyd_iters:
        cents = _lloyd_refine(df, cents, lloyd_iters, vec_col)
    cent_df = local_rows_df(
        df.sparkSession,
        [(i, c) for i, (_cid, c) in enumerate(cents)],
        "cell int, __cent array<double>",
    )
    assigned = df.select(
        F.col(id_col),
        F.col(vec_col),
        _ivf_cell_col(F.col(vec_col), cents).alias("cell"),
    ).join(F.broadcast(cent_df), "cell")
    w_cell = Window.partitionBy("cell").orderBy(
        F.col("__cos_cent").asc(), F.col(id_col)
    )
    # per-vector norm and double-cast computed ONCE here — the pair
    # verify then does 1 fold per pair, not 3 (the cosine_neardup
    # lesson); same products, same left-fold order, so cos stays
    # bitwise-equal to the oracle's inline cosine
    ranked = (
        assigned.withColumn(
            "__cos_cent", cosine(F.col(vec_col), F.col("__cent"))
        )
        .withColumn("cent_rank", F.row_number().over(w_cell).cast("long"))
        .withColumn("__vd", _to_double(F.col(vec_col)))
        .withColumn(
            "__norm", F.sqrt(dot_strict(F.col(vec_col), F.col(vec_col)))
        )
        .drop("__cent")
    )
    p = ranked.select(
        F.col(id_col), F.col("__vd").alias("__vp"), "cell",
        F.col("cent_rank").alias("__rp"), F.col("__norm").alias("__np"),
    )
    q = ranked.select(
        F.col("__vd").alias("__vq"), "cell",
        F.col("cent_rank").alias("__rq"), F.col("__norm").alias("__nq"),
    )
    # round-15 (guide §2.3): the verify join keys on `cell`, so its
    # parallelism is capped at nlist — and AQE coalesces the tiny-BYTES
    # shuffle to ~1 partition while the PAIR work is quadratic CPU
    # (profile: the whole verify ran as one task). Salt the join: p
    # keeps one salt per row, q replicates salt_n ways, so the pair
    # multiset is IDENTICAL while the work spreads over nlist x salt_n
    # keys; the explicit numbered repartition is exempt from AQE's
    # byte-driven coalescing (which under-provisions CPU-quadratic
    # stages at ANY scale). salt_n = ceil(cores / nlist) capped at 8:
    # at corpus scale the auto-sized nlist >= cores, salt_n == 1 and
    # the salt column is a constant 0 — replication cost exists only
    # where it buys idle cores. The path is UNCONDITIONAL so the plan
    # shape (and the PLANS.md pin) is identical at every parallelism;
    # the join width is nlist-derived but capped at 4x cores so a
    # billion-cell corpus does not explode into nlist tasks.
    par = df.sparkSession.sparkContext.defaultParallelism
    salt_n = min(8, max(1, -(-par // int(nlist))))
    num_parts = salt_n * min(int(nlist), 4 * par)
    p = p.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_n)).cast("int"),
    ).repartition(num_parts, F.col("cell"), F.col("__salt"))
    q = q.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(salt_n)])),
    )
    removed = (
        p.join(q, ["cell", "__salt"])
        .filter(F.col("__rq") < F.col("__rp"))
        .filter(
            _dot_dbl(F.col("__vp"), F.col("__vq"))
            / (F.col("__np") * F.col("__nq"))
            >= F.lit(float(tau))
        )
        .select(id_col)
        .distinct()
        .withColumn("__rm", F.lit(1))
    )
    return (
        ranked.join(removed, on=id_col, how="left")
        .withColumn(
            "is_kept", F.when(F.col("__rm").isNull(), 1).otherwise(0)
        )
        .select(
            id_col, F.col("cell").cast("long").alias("cell"),
            "cent_rank", "is_kept",
        )
        .unionByName(zero_norm)
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column — the
    storage-side compression a 100 TB vector corpus runs before
    anything else (4x less scan IO than float32, 8x less than the
    float64 the engine computes in; the standard SQ8 scheme of the
    FAISS/Milvus family). Per vector:

        scale   = max(|x_i|) / 127
        code_i  = floor(x_i / scale + 0.5)        (scale > 0)

    so every code lands in [-127, 127] by construction (|x|/scale <=
    127 exactly) — no clamp branch, and the rounding rule is floor(x +
    0.5) (half-towards-+inf), picked over banker's/HALF_UP rounding
    because ``floor`` is bit-identical across engines, which keeps the
    whole transform SQL-replayable. Zero vectors quantize to all-zero
    codes with ``scale = 0`` (the CASE guard — IEEE x/0 would poison
    the row with infinities).

    Returns ``(id, scale, codes array<int>)``. Reconstruction error is
    bounded per dimension by ``scale / 2`` (pinned in tests);
    :func:`dequantize_embeddings` inverts. Pure Catalyst (transform +
    aggregate folds) — JVM-side, no Python in the hot path, one
    narrow projection over the corpus."""
    vec_d = _to_double(F.col(vec_col))
    # scale materialized as a REAL column first so the codes transform
    # references it by name (one evaluation per row, not per dim);
    # the expressions are the SHARED _sq8_* helpers — the persisted
    # IVF-SQ8 index and this column op must stay bitwise-identical
    # (the probe==dequantize-compose equivalence is test-pinned)
    staged = df.select(
        F.col(id_col),
        vec_d.alias("__v"),
        _sq8_scale(vec_d).alias("scale"),
    )
    return staged.select(
        id_col,
        "scale",
        _sq8_codes(F.col("__v"), F.col("scale")).alias("codes"),
    )


def dequantize_embeddings(
    qdf: DataFrame,
    id_col: str = "vec_id",
    scale_col: str = "scale",
    codes_col: str = "codes",
    vec_col: str = "embedding",
) -> DataFrame:
    """Invert :func:`quantize_embeddings`: ``x_i ~ code_i * scale``
    (exact IEEE multiply of an integer by the stored scale — the
    reconstruction every SQ8 serving path performs at probe time).
    Returns ``(id, embedding array<double>)``; per-dimension error vs
    the original is <= scale/2 by the rounding rule (pinned)."""
    return qdf.select(
        F.col(id_col),
        _sq8_decode(F.col(codes_col), F.col(scale_col)).alias(vec_col),
    )


# ---------------------------------------------------------------------------
# IVF-SQ8 — the fifth persisted ANN layout, completing the quantized
# index family (LSH / IVF / PQ / IVF-PQ / IVF-SQ8): IVF cell pruning
# over vectors stored as per-vector int8 scalar-quantized codes (the
# scheme of :func:`quantize_embeddings`; the FAISS/Milvus "IVF,SQ8"
# middle ground between the exact IVF scan and the lossy PQ codes).
# A probe reads nprobe/nlist of the corpus at CODE width — 4x less
# scan IO than the IVF index's float32 (8x vs the float64 the engine
# computes in) — and reconstructs x_i ~ code_i * scale inline as a
# pure-Catalyst transform, ranking by exact cosine over the
# reconstructed vectors (per-dimension reconstruction error <=
# scale/2, so recall sits between IVF-exact and IVF-PQ's m-subspace
# codes). Unlike IVF-PQ there is NO trained codebook: quantization is
# per-vector arithmetic (scale = max|x_i| / 127, code = floor(x/scale
# + 0.5)), so appends never drift from a training sample and the
# whole construction — cell assignment, quantization, reconstruction,
# cosine fold — is bitwise-replayable by the DuckDB oracle.
# ---------------------------------------------------------------------------


def _sq8_scale(vec_d: Column) -> Column:
    """Per-vector SQ8 scale ``max(|x_i|) / 127`` — the
    :func:`quantize_embeddings` fold (greatest-fold from 0.0, so the
    oracle's ``list_reduce(list_prepend(0.0, ...), greatest)``
    replays it bitwise)."""
    absmax = F.aggregate(
        F.transform(vec_d, lambda x: F.abs(x)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    return absmax / F.lit(127.0)


def _sq8_codes(vec_d: Column, scale: Column) -> Column:
    """SQ8 codes ``floor(x / scale + 0.5)`` in [-127, 127] (zero
    vectors -> all-zero codes; same CASE guard as
    :func:`quantize_embeddings`)."""
    return F.when(
        scale > 0,
        F.transform(
            vec_d, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int")
        ),
    ).otherwise(F.transform(vec_d, lambda x: F.lit(0)))


def _sq8_decode(codes: Column, scale: Column) -> Column:
    """Reconstruct ``x_i ~ code_i * scale`` (exact IEEE multiply —
    the :func:`dequantize_embeddings` transform inlined at probe
    time; no Python, no shuffle)."""
    return F.transform(codes, lambda c: c.cast("double") * scale)


def build_ann_ivfsq8_index(
    df: DataFrame,
    path: str,
    nlist: int | None = ANN_NLIST,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lloyd_iters: int = 0,
    commit: str = "rename",
    extra_cols: tuple[str, ...] = (),
    target_cell: int = 256,
    dim: int = ANN_DIM,
) -> None:
    """Build a persisted IVF-SQ8 index: IVF cells (directory-
    partitioned like :func:`build_ann_ivf_index`, same seeded
    centroid pick / optional Lloyd refinement / auto ``nlist=None``
    sizing) holding per-vector SQ8 codes instead of raw floats.
    Layout: cell-partitioned rows ``(id, cell, scale, codes, vec,
    extra_cols...)`` under ``ingest_batch_id=-1``, the centroid table
    at ``<path>/_centroids``, and ``<path>/_sq_meta`` (dim + scheme)
    marking the layout for autodetection (compaction, stats, the
    maintenance planner). ``commit``/``extra_cols`` carry the shared
    storage and filtered-ANN contracts of the IVF build."""
    _ann_build(
        _SQ8, df, path, commit, vec_col, id_col, dim,
        "build_ann_ivfsq8_index", extra_cols, nlist=nlist,
        lloyd_iters=lloyd_iters, target_cell=target_cell,
    )


def append_to_ann_ivfsq8_index(
    df: DataFrame,
    path: str,
    batch_id: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Quantize a new corpus batch against a persisted IVF-SQ8 index's
    EXISTING centroids and land it in its own batch partition — the
    IVF append contract (:func:`append_to_ann_ivf_index`: centroids
    do not move; ``batch_id`` set -> overwrite-own-partition
    replay-safe, unset -> at-least-once base append). Because SQ8 has
    no trained codebook, appended batches quantize EXACTLY like the
    build — no quantizer drift, the property PQ appends give up."""
    _ann_append(
        _SQ8, df, path, batch_id, vec_col, id_col,
        "append_to_ann_ivfsq8_index",
    )


def ann_ivfsq8_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = ANN_NPROBE,
    rerank: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    where=None,
    before_batch: int | None = None,
) -> DataFrame:
    """Probe a persisted IVF-SQ8 index: rank the ``nprobe`` best cells
    by centroid dot driver-side, scan ONLY those cell directories
    reading ``(id, scale, codes)`` (columnar pruning skips the stored
    embedding), reconstruct ``code * scale`` inline, rank by exact
    cosine over the reconstructed vectors — deterministic (acos desc,
    id) top-k, returned as ``(id, rank, acos)``. ``rerank=R`` re-ranks
    the top-R by exact cosine over the TRUE embeddings (read for those
    R ids alone), returning ``(id, rank, cos)``. ``where`` filters
    inside the pruned scan over stored ``extra_cols``;
    ``before_batch`` fences the read to earlier batch partitions."""
    return _ann_probe(
        _SQ8, spark, index_path, query_vec, k, "ann_ivfsq8_topk_indexed",
        nprobe=nprobe, rerank=rerank, vec_col=vec_col, id_col=id_col,
        where=where, before_batch=before_batch,
    )


def ann_ivfsq8_join_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = ANN_NPROBE,
    rerank: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    where=None,
    before_batch: int | None = None,
) -> DataFrame:
    """Batch ANN against a persisted IVF-SQ8 index — the R-S form of
    :func:`ann_ivfsq8_topk_indexed` (per-query output identical to
    looping the single probe): probe the index for EVERY query of
    ``queries`` in one job, scanning only the union of the batch's
    probed cell directories at code width. Returns
    ``(query_id, id, acos, rank)``, rank 1..k per query by
    reconstructed cosine.

    ``rerank=R`` adds the per-query exact-cosine tail over each
    query's top-R reconstructed candidates (embeddings read for those
    (query, id) pairs alone), returning the ``cosine_join`` shape
    ``(query_id, id, cos, rank)``.

    Scale shape: same as :func:`ann_ivf_join_indexed` — per-query
    probe cells ranked driver-side against the bounded nlist-row
    centroid table, (query, cell) pairs + query vectors broadcast,
    candidate generation shuffle-free up to the per-query top-k
    window; the scan reads codes instead of floats (the SQ8 IO win).

    |Q| ceiling: the query batch is driver-materialized by design
    (8*dim bytes per vector — 10^5 queries at dim 64 is ~50 MB, far
    under driver memory); millions of queries should chunk the batch
    and union the outputs (per-query independence makes chunking
    semantics-free)."""
    return _ann_probe(
        _SQ8, spark, index_path, queries, k, "ann_ivfsq8_join_indexed",
        nprobe=nprobe, rerank=rerank, vec_col=vec_col, id_col=id_col,
        where=where, before_batch=before_batch, query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )
