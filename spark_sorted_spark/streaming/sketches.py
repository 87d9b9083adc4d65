"""Streaming distinct counting with bounded state: the streaming
consumer of the mergeable HLL sketch (``functions.sketches``).

Native Structured Streaming offers ``approx_count_distinct`` inside
windowed aggregations, but its state is engine-private (not
readable, not mergeable with batch sketches, not reproducible across
engines). This module keeps the register table ITSELF as the
persisted state: each micro-batch writes its own grouped register
table into a batch-keyed partition, and the read side merges all
partitions with a register-wise max.

Why this is replay-proof with no fencing at all: HLL merge is an
idempotent, commutative, associative MAX. A replayed batch that
appends its registers twice changes nothing — ``max(x, x) = x``.
The batch-partition overwrite is still used so storage stays
bounded (one partition per batch, replaced on replay, never
duplicated files), but CORRECTNESS never depends on it — the
opposite trade from ``stream_ingest_dedup``, whose survivor writes
are not idempotent by value and need the read fence.

Scale: per-batch state is at most ``m = 2^b`` integer rows per key
group, regardless of batch size; the store grows by one tiny
partition per batch and compacts to one partition via
:func:`read_hll_registers` + a rewrite whenever the partition count
itself starts to matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.local_rows import local_rows_df
from ..sources.manifest import _batch_ids, _exists, staged_store
from .run import _drain_foreach

from ..functions.sketches import hll_estimate, hll_register_table

__all__ = [
    "stream_hll_distinct",
    "read_hll_registers",
    "read_hll_estimate",
    "stream_cms_counts",
    "read_cms_cells",
    "stream_histogram",
    "read_histogram",
    "stream_bloom",
    "read_bloom",
    "stream_kmv",
    "read_kmv",
    "read_kmv_estimate",
    "compact_sketch_store",
]


def _drain_sketch_store(
    stream_df: DataFrame, store_path: str, checkpoint_dir: str, sketch,
    timeout_sec: int, caller: str,
) -> None:
    """Drain ``stream_df`` availableNow, writing each micro-batch's
    ``sketch(batch_df)`` to its own ``ingest_batch_id`` partition with
    overwrite semantics (a replayed batch replaces its own state)."""
    _drain_foreach(
        stream_df,
        lambda batch_df, batch_id: sketch(batch_df).write.mode("overwrite").parquet(
            f"{store_path}/ingest_batch_id={batch_id}"
        ),
        checkpoint_dir, timeout_sec, caller,
    )


def stream_hll_distinct(
    stream_df: DataFrame,
    value: str,
    store_path: str,
    checkpoint_dir: str,
    keys=(),
    b: int = 8,
    timeout_sec: int = 300,
) -> None:
    """Drain ``stream_df`` (bounded, availableNow) into an HLL
    register store: one ``ingest_batch_id={N}`` partition per
    micro-batch holding that batch's grouped register table."""
    keys = [keys] if isinstance(keys, str) else list(keys)

    _drain_sketch_store(
        stream_df, store_path, checkpoint_dir,
        lambda batch: hll_register_table(batch, value, b=b, keys=keys),
        timeout_sec, "stream_hll_distinct",
    )


def stream_cms_counts(
    stream_df: DataFrame,
    value: str,
    store_path: str,
    checkpoint_dir: str,
    width: int = 1 << 12,
    depth: int = 4,
    timeout_sec: int = 300,
) -> None:
    """Drain ``stream_df`` (bounded, availableNow) into a count-min
    store: one ``ingest_batch_id={N}`` partition per micro-batch
    holding that batch's CMS cells. Read-side merge is a cell-wise
    SUM (:func:`read_cms_cells`) — and unlike the HLL store's
    idempotent max, a summed counter IS corrupted by double counting,
    so here the batch-keyed overwrite partition is what makes replay
    exactly-once (a re-delivered batch replaces its own cells instead
    of adding them twice). The two stores are the two halves of the
    replay story: idempotent merges need no fencing, additive merges
    get it from overwrite-by-batch-partition."""
    from ..functions.sketches import cms_build

    _drain_sketch_store(
        stream_df, store_path, checkpoint_dir,
        lambda batch: cms_build(batch, value, width=width, depth=depth),
        timeout_sec, "stream_cms_counts",
    )


def read_cms_cells(spark, store_path: str) -> DataFrame:
    """Merge every batch partition of a CMS store into one sketch
    (cell-wise sum), carrying the width/depth metadata so the probe
    guards keep working. The params ride THROUGH the group-by
    (constant across a store, so grouping by them is free) — an
    all-empty store still yields the full probe-ready schema, same
    fix as ``cms_merge``."""
    cells = spark.read.parquet(store_path)
    return (
        cells.groupBy("row", "col", "width", "depth")
        .agg(F.sum("cnt").alias("cnt"))
        .select("row", "col", "cnt", "width", "depth")
    )


def stream_bloom(
    stream_df: DataFrame,
    value: str,
    store_path: str,
    checkpoint_dir: str,
    m_bits: int = 1 << 15,
    k: int = 4,
    timeout_sec: int = 300,
) -> None:
    """Drain ``stream_df`` (bounded, availableNow) into a Bloom-filter
    store: one ``ingest_batch_id={N}`` partition per micro-batch
    holding that batch's filter words. Like the HLL store, the merge
    is an IDEMPOTENT bitwise OR — a replayed batch that lands twice
    changes nothing — so correctness never depends on the batch-keyed
    overwrite (it only bounds storage). The membership answer over an
    unbounded stream ("have we EVER seen this url/shingle?") costs
    m_bits/8 bytes of state total."""
    from ..functions.sketches import bloom_build

    _drain_sketch_store(
        stream_df, store_path, checkpoint_dir,
        lambda batch: bloom_build(batch, value, m_bits=m_bits, k=k),
        timeout_sec, "stream_bloom",
    )


def read_bloom(spark, store_path: str) -> DataFrame:
    """Merge every batch partition of a Bloom store into one filter
    (word-wise bit_or), params carried through the group-by
    (schema-preserving on an all-empty store, like the other
    readers) — feed the result to ``bloom_members``."""
    words = spark.read.parquet(store_path)
    return (
        words.groupBy("word", "m_bits", "k")
        .agg(F.bit_or("bits").alias("bits"))
        .select("word", "bits", "m_bits", "k")
    )


def stream_histogram(
    stream_df: DataFrame,
    value,
    store_path: str,
    checkpoint_dir: str,
    sub_bits: int = 4,
    keys=(),
    timeout_sec: int = 300,
) -> None:
    """Drain ``stream_df`` (bounded, availableNow) into a quantile-
    histogram store: one ``ingest_batch_id={N}`` partition per
    micro-batch holding that batch's HDR bucket counts
    (``functions.sketches.histogram_sketch``). Like the CMS store,
    the merge is ADDITIVE (bucket-wise count sum), so replay safety
    comes from the batch-keyed overwrite partition — a re-delivered
    batch replaces its own counts instead of double-counting. Answers
    "p99 so far" over an unbounded stream from a few thousand integer
    rows of state."""
    from ..functions.sketches import histogram_sketch

    keys = [keys] if isinstance(keys, str) else list(keys)

    _drain_sketch_store(
        stream_df, store_path, checkpoint_dir,
        lambda batch: histogram_sketch(batch, value, sub_bits=sub_bits, keys=keys),
        timeout_sec, "stream_histogram",
    )


def read_histogram(spark, store_path: str, keys=()) -> DataFrame:
    """Merge every batch partition of a histogram store into one
    sketch (bucket-wise count sum) — feed the result to
    ``functions.sketches.histogram_quantiles``. Reading a keyed store
    with ``keys`` omitted raises (the HLL family's forgotten-keys
    guard): silently merging buckets across key groups would return a
    global answer where the caller meant per-key."""
    from ..functions.sketches import _check_histogram_keys

    keys = [keys] if isinstance(keys, str) else list(keys)
    sk = spark.read.parquet(store_path)
    _check_histogram_keys(sk, keys, "read_histogram", tolerate_batch_col=True)
    return sk.groupBy(*keys, "bucket").agg(F.sum("cnt").alias("cnt"))


def _kmv_meta_read(spark, store_path: str) -> int | None:
    """The store's build ``k`` from ``<store>/_kmv_meta``, or None for
    a legacy store written before the meta existed (ADVICE r12:
    without the persisted k, a read with a too-large k makes the
    estimator treat a saturated sketch as an exact count)."""
    meta = f"{store_path}/_kmv_meta"
    if not _exists(spark, meta):
        return None
    return int(spark.read.parquet(meta).head().k)


def _kmv_meta_write(spark, store_path: str, k: int) -> None:
    # underscore-prefixed dir: Hadoop's hidden-file filter keeps it
    # invisible to spark.read.parquet(store_path) (the _sq_meta
    # pattern from the ANN indexes)
    local_rows_df(spark, [(int(k),)], "k int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{store_path}/_kmv_meta")


def _kmv_resolve_k(
    meta_k: int | None, k: int | None, store_path: str, caller: str
) -> int:
    """Resolve the effective read-side k against an already-read meta.

    ``k=None`` requires the meta (legacy stores must pass k
    explicitly). A caller k LARGER than the build k is rejected: the
    merged sketch can never hold more than build-k hashes, so
    ``_kmv_est`` would take its ``size < k`` exact-count branch and
    silently return the saturated sketch size as the estimate. A
    SMALLER k is valid (the k' smallest of the bottom-k are the k'
    smallest overall) and is accepted as a deliberate downsample."""
    if k is None:
        if meta_k is None:
            raise ValueError(
                f"{caller}: store {store_path!r} has no _kmv_meta "
                "(legacy store) — pass the build k explicitly"
            )
        return meta_k
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if meta_k is not None and k > meta_k:
        raise ValueError(
            f"{caller}: k={k} exceeds the store's build k={meta_k} "
            f"(persisted in {store_path}/_kmv_meta); a larger read k "
            "would make the estimator treat the saturated sketch as "
            "an exact count"
        )
    return k


def _kmv_k_or_meta(spark, store_path: str, k: int | None, caller: str) -> int:
    """Read the persisted meta and resolve k against it (one FS
    round-trip; callers needing both the meta and the resolved k use
    :func:`_kmv_meta_read` + :func:`_kmv_resolve_k` directly)."""
    return _kmv_resolve_k(
        _kmv_meta_read(spark, store_path), k, store_path, caller
    )


def stream_kmv(
    stream_df: DataFrame,
    value: str,
    store_path: str,
    checkpoint_dir: str,
    k: int = 256,
    keys=(),
    timeout_sec: int = 300,
) -> None:
    """Drain ``stream_df`` (bounded, availableNow) into a KMV store:
    one ``ingest_batch_id={N}`` partition per micro-batch holding that
    batch's bottom-k sketch (``functions.sketches.kmv_sketch``).

    Replay story: same class as the HLL store — the bottom-k merge is
    an idempotent, commutative, associative MIN-SELECTION (the k
    smallest of X ∪ X are the k smallest of X), so a replayed batch
    changes nothing and correctness needs no fencing; the batch-keyed
    overwrite only bounds storage. Per-batch state is <= k int64s per
    key group regardless of batch size, and the store keeps the full
    set-operation power of the batch sketch: :func:`read_kmv` merges
    to one sketch that feeds ``kmv_estimate`` / ``kmv_overlap`` — the
    streaming half of the cross-corpus overlap question."""
    from ..functions.sketches import kmv_sketch

    # eager: a bad k raised inside foreachBatch would surface as an
    # opaque StreamingQueryException after the checkpoint is created
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    keys = [keys] if isinstance(keys, str) else list(keys)
    # persist the build k (ADVICE r12): reads/compactions validate
    # against it instead of trusting the caller; a resumed drain with
    # a DIFFERENT k would mix incompatible sketches — reject eagerly
    spark = stream_df.sparkSession
    meta_k = _kmv_meta_read(spark, store_path)
    if meta_k is None:
        if _batch_ids(spark, store_path):
            # a LEGACY store (drained before the meta existed): we
            # cannot know its true build k, and silently stamping the
            # caller's k would re-open the saturated-sketch-as-exact-
            # count bug for a k larger than the real one. Compaction
            # stamps a VALIDATED k (<= the observed sketch lengths).
            raise ValueError(
                f"stream_kmv: store {store_path!r} holds batches but "
                "no _kmv_meta (legacy store); stamp the build k first "
                "with compact_sketch_store(kind='kmv', k=<build k>) "
                "— it validates k against the stored sketch lengths "
                "— or drain into a fresh store"
            )
        _kmv_meta_write(spark, store_path, k)
    elif meta_k != k:
        raise ValueError(
            f"stream_kmv: store {store_path!r} was built with k="
            f"{meta_k} (persisted in _kmv_meta); resuming with k={k} "
            "would mix incompatible sketches"
        )

    _drain_sketch_store(
        stream_df, store_path, checkpoint_dir,
        lambda batch: kmv_sketch(batch, value, k=k, keys=keys),
        timeout_sec, "stream_kmv",
    )


def _read_kmv_resolved(spark, store_path: str, k: int, keys) -> DataFrame:
    """The merge itself, with k already resolved/validated."""
    from ..functions.sketches import _kmv_bottomk

    keys = [keys] if isinstance(keys, str) else list(keys)
    sk = spark.read.parquet(store_path)
    ex = sk.select(*keys, F.explode("kmv").alias("__h"))
    return _kmv_bottomk(ex, k, keys)


def read_kmv(spark, store_path: str, k: int | None = None, keys=()) -> DataFrame:
    """Merge every batch partition of a KMV store into ONE sketch per
    key group (the k smallest across all batches) — row-identical to
    sketching the union of the drained batches (the
    ``kmv_merge`` == ``kmv_sketch``-of-union pin).

    ``k`` defaults to the store's persisted build k (``_kmv_meta``);
    an explicit k may only shrink it (see ``_kmv_resolve_k``)."""
    k = _kmv_k_or_meta(spark, store_path, k, "read_kmv")
    return _read_kmv_resolved(spark, store_path, k, keys)


def read_kmv_estimate(
    spark, store_path: str, k: int | None = None, keys=()
) -> DataFrame:
    """The store's current distinct-count estimate(s): merge-on-read
    then the standard deterministic estimator. ``k`` defaults to the
    store's persisted build k (resolved ONCE — the nested merge skips
    the second meta round-trip)."""
    from ..functions.sketches import kmv_estimate

    k = _kmv_k_or_meta(spark, store_path, k, "read_kmv_estimate")
    return kmv_estimate(_read_kmv_resolved(spark, store_path, k, keys), k, keys)


def compact_sketch_store(
    spark, store_path: str, kind: str, keys=(), k: int | None = None
) -> None:
    """Collapse a long-appended sketch store (one ``ingest_batch_id``
    partition per micro-batch) back to a single partition holding the
    merged state — the small-files maintenance an unbounded stream
    eventually needs. The merge is the store's own read-side merge
    (max for HLL, sum for CMS/histogram, bottom-k for KMV — pass the
    store's ``k``), so the compacted store
    answers every read identically (pinned by test).

    The compacted partition keeps the store's MAX batch id, so a
    resumed stream's next batch (max+1, ...) lands beside it and
    merges as usual.

    NOT concurrency-safe, and only run it after a CLEAN drain: don't
    compact while a stream is draining into the store, and don't
    compact between a crash and its replay — for the additive stores
    (cms/histogram) a replayed batch would overwrite a partition that
    now holds merged totals. (The same stream-stopped contract as
    ``compact_minhash_band_store``.)

    The merged partition (and, for KMV, the validated build-k meta)
    is staged whole and published once
    (``sources.manifest.staged_store``): no crash point loses the only
    readable copy."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    if kind not in ("hll", "cms", "histogram", "bloom", "kmv"):
        raise ValueError(
            f"unknown sketch store kind {kind!r}: expected "
            "'hll', 'bloom', 'cms', 'histogram' or 'kmv'"
        )
    if kind == "kmv":
        # resolves k from _kmv_meta (or validates the caller's k
        # against it); legacy meta-less stores still require k
        kmv_meta_k = _kmv_meta_read(spark, store_path)
        k = _kmv_resolve_k(kmv_meta_k, k, store_path, "compact_sketch_store")
        if kmv_meta_k is None and _batch_ids(spark, store_path):
            # LEGACY store: before stamping the caller's k as the
            # build k, bound it by the stored sketch lengths — a
            # sketch of length L may be saturated at build k = L, so
            # any k > max(L) risks the exact-count estimator branch
            # on a saturated sketch. k <= max(L) is always safe
            # (bottom-k of a valid bottom-L is a valid bottom-k).
            # Gated on _batch_ids (ADVICE r13): an empty or
            # missing legacy store must reach the clean 'holds no
            # batch partitions' ValueError below, not die here on
            # schema inference.
            maxlen = (
                spark.read.parquet(store_path)
                .select(F.max(F.size("kmv")).alias("m"))
                .head()
                .m
            )
            if maxlen is not None and k > int(maxlen):
                raise ValueError(
                    f"compact_sketch_store: k={k} exceeds the longest "
                    f"stored sketch ({maxlen}) of legacy store "
                    f"{store_path!r} — its build k cannot have been "
                    f"larger than {maxlen}; pass k <= {maxlen} (a "
                    "smaller k is always a valid downsample)"
                )
    # find the max batch partition BEFORE any read: an empty OR
    # MISSING dir must be a clean ValueError, not a schema-inference
    # failure / py4j FileNotFoundException
    ids = _batch_ids(spark, store_path)
    if not ids:
        raise ValueError(f"{store_path!r} holds no batch partitions")
    if kind == "hll":
        merged = read_hll_registers(spark, store_path, keys)
    elif kind == "bloom":
        merged = read_bloom(spark, store_path)
    elif kind == "cms":
        merged = read_cms_cells(spark, store_path)
    elif kind == "kmv":
        merged = _read_kmv_resolved(spark, store_path, k, keys)
    else:
        merged = read_histogram(spark, store_path, keys)
    with staged_store(spark, store_path, "rename") as staged:
        merged.write.mode("overwrite").parquet(
            f"{staged}/ingest_batch_id={max(ids)}"
        )
        if kind == "kmv":
            # the build-k meta, also upgrading a legacy meta-less store
            # (the caller's k was length-validated above)
            _kmv_meta_write(spark, staged, k)


def read_hll_registers(spark, store_path: str, keys=()) -> DataFrame:
    """Merge every batch partition of an HLL register store into one
    register table (register-wise max across batches)."""
    from ..functions.sketches import _check_register_keys

    keys = [keys] if isinstance(keys, str) else list(keys)
    regs = spark.read.parquet(store_path)
    _check_register_keys(
        regs, keys, "read_hll_registers", tolerate_batch_col=True
    )
    return regs.groupBy(*keys, "reg").agg(F.max("max_rho").alias("max_rho"))


def read_hll_estimate(
    spark, store_path: str, b: int = 8, keys=(), corrected: bool = False
) -> DataFrame:
    """The store's current distinct-count estimate(s): merge-on-read
    then the standard bitwise-reproducible fold. ``corrected=True``
    adds the linear-counting ``corrected_estimate`` (see
    ``functions.sketches.hll_estimate``)."""
    return hll_estimate(
        read_hll_registers(spark, store_path, keys), b, keys,
        corrected=corrected,
    )
