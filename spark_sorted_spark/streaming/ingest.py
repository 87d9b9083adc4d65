"""Streaming corpus ingest with incremental dedup: the production
loop that keeps a growing corpus near-dup-free.

Each micro-batch of arriving documents is (1) self-deduped within the
batch, (2) checked against the persisted MinHash band store of
everything already accepted, (3) survivors appended to the corpus AND
to the band store (bands + delta counts), so the very next batch
dedups against them. ``foreachBatch`` is the right tool: the loop
needs batch-scoped writes to three sinks (corpus, store, audit log),
which no single streaming sink expresses.

Ordering semantics: earlier batches win. A document that near-dups
anything already accepted is dropped and logged; within a batch the
lower doc_id survives (same policy as ``pipeline_clean_corpus``).
Batch boundaries therefore affect WHICH duplicate of a pair survives
— never whether a duplicate pair escapes: cross-batch pairs are
caught by the store check because the earlier batch's bands were
appended before the later batch runs.

Scale notes (100 TB corpus, unbounded stream):
* per-batch cost is O(batch): batch-side signatures only, the
  broadcast-pruned guard, candidate-only text reads (see
  ``dedup_against_store``);
* the corpus parquet is append-only and the store appends delta
  counts — no per-batch rewrite of anything corpus-sized;
* the checkpoint makes the loop restartable, and the corpus/audit
  sinks are EXACTLY-ONCE *for any reader, fenced or raw*: each batch
  writes its partition to a dot-prefixed staging dir (invisible to
  parquet readers — Hadoop's path filter skips ``.``/``_`` names)
  and PUBLISHES it with one filesystem rename, so a crash mid-batch
  leaves no torn partition behind, only an invisible staging dir the
  replay overwrites. Reads inside a batch additionally fence out
  partitions ``>= N`` (``before_batch``) so a replayed batch
  recomputes the identical survivor set against the pre-batch state.
  (Rename-as-commit is atomic on local disk and HDFS; on S3-style
  object stores, front the corpus with a rename-atomic layer or a
  table format with a commit protocol, as for any
  rename-committed Spark output.)
* the band store's partitions stay overwrite-idempotent but are NOT
  rename-published: its only supported readers
  (``dedup_against_store`` / the store readers) fence by batch id,
  and its merge semantics are idempotent, so a torn store partition
  is healed by replay before any fenced reader can observe it.

Restart protection (not a replay): starting a NEW stream — fresh
checkpoint — against an already-populated corpus re-batches the
source from batch 0. Without protection, batch 0 would silently
OVERWRITE the prior run's ``ingest_batch_id=0`` partition and would
NOT dedup against the existing corpus (the ``< 0`` fence excludes
everything). This module therefore records a stream identity: a uuid
persisted in the checkpoint dir (``__ingest_identity``) and mirrored,
with the run's base batch offset, in ``{corpus_path}/_ingest_stream``
(underscore prefix: invisible to parquet readers). On start:

* identities match → same stream (normal continuation or engine
  replay): reuse the recorded base;
* mismatch, or a populated corpus with no marker → fail LOUDLY
  unless ``allow_restart=True``, in which case the new run's batches
  are offset past the existing max partition id — they dedup against
  the full existing corpus and can never clobber it.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dedup import (
    append_to_minhash_band_store,
    dedup_against_store,
    minhash_lsh_pairs,
)
from ..functions.similarity import _IVF, _IVFPQ, _SQ8, _ann_append, _family_guard
from ..sources.manifest import (
    _batch_ids,
    _carry,
    _fs,
    _ls,
    _rm_dir,
    resolve_root,
    staged_store,
    store_layout,
)
from .run import _drain_foreach

__all__ = [
    "stream_ingest_dedup",
    "compact_corpus",
    "stream_maintain_gram_store",
    "stream_maintain_bm25_index",
    "stream_maintain_ann_ivf_index",
    "stream_maintain_ann_ivfsq8_index",
]

# test-only hook: a callable invoked as (sink_name, batch_part) right
# before a staging dir is published; tests raise inside it to simulate
# a crash between the staging write and the rename-commit
_crash_before_publish = None


def _read_text(spark: SparkSession, path: str) -> str | None:
    """One small text file through the Hadoop FS API (any scheme)."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return None
    jio = spark.sparkContext._jvm.java.io
    stream = fs.open(hpath)
    try:
        line = jio.BufferedReader(jio.InputStreamReader(stream, "UTF-8")).readLine()
        return line if line is not None else ""
    finally:
        stream.close()


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    """Atomic text write: stream into a dot-prefixed sibling, then
    commit with the same rename discipline as the data partitions
    (ADVICE r7: a crash mid-write used to leave truncated JSON at the
    final path, wedging every subsequent start on json.loads)."""
    head, _, tail = path.rpartition("/")
    tmp = f"{head}/.{tail}.tmp"
    fs, hpath = _fs(spark, tmp)
    stream = fs.create(hpath, True)
    try:
        stream.write(bytearray(text, "utf-8"))
    finally:
        stream.close()
    _publish(spark, tmp, path)


def _publish(spark: SparkSession, staging: str, final: str) -> None:
    """Commit a staged partition dir with one rename. The final dir is
    replaced if present (a replayed batch re-publishing itself); the
    staging dir's dot prefix keeps it invisible to any parquet reader
    until the rename lands it whole."""
    fs, final_p = _fs(spark, final)
    staging_p = _fs(spark, staging)[1]
    if _crash_before_publish is not None:
        _crash_before_publish(final, staging)
    fs.delete(final_p, True)
    if not fs.rename(staging_p, final_p):
        raise IOError(f"publish rename failed: {staging} -> {final}")


def _existing_max_batch(spark: SparkSession, corpus_path: str) -> int | None:
    """Largest ingest_batch_id partition in the corpus dir, or None if
    the dir is missing / has no batch partitions."""
    return max(_batch_ids(spark, corpus_path), default=None)


def _has_foreign_stream_data(spark: SparkSession, corpus_path: str) -> bool:
    """True if the dir holds data some OTHER stream could have written:
    any visible entry except the reserved base partition
    ``ingest_batch_id=-1``, which only a BATCH BUILD (or compaction)
    writes — no stream batch can ever produce a negative id, so a
    marker-less dir holding ONLY the base is a freshly built store a
    new stream may adopt (first adoption is the NORMAL flow for the
    BM25 index and a pre-built gram store), not a takeover risk."""
    return any(
        not name.startswith((".", "_")) and name != "ingest_batch_id=-1"
        for name in _ls(spark, corpus_path)
    )


def _resolve_stream_base(
    spark: SparkSession,
    corpus_path: str,
    checkpoint_dir: str,
    allow_restart: bool,
) -> int:
    """Match the checkpoint's stream identity against the corpus
    marker and return the batch-id base offset for this run (see
    module docstring, "Restart protection")."""
    ident_path = f"{checkpoint_dir}/__ingest_identity"
    ident = _read_text(spark, ident_path)
    if ident is None:
        ident = str(uuid.uuid4())
        _write_text(spark, ident_path, ident)

    marker_path = f"{corpus_path}/_ingest_stream"
    raw = _read_text(spark, marker_path)
    has_data = _has_foreign_stream_data(spark, corpus_path)
    if raw:
        try:
            marker = json.loads(raw)
        except ValueError:
            # a marker predating the atomic _write_text could be a
            # torn write; an unparseable marker must behave like NO
            # marker (the friendly guard below), not wedge every start
            # in json.loads until someone hand-deletes the file
            marker = {}
        if marker.get("id") == ident:
            return int(marker.get("base", 0))
        # a marker with no data behind it (prior run died before any
        # batch committed) protects nothing: silently take over
        if has_data and not allow_restart:
            raise ValueError(
                f"corpus at {corpus_path!r} was written by a different "
                "ingest stream (checkpoint identity mismatch). A fresh "
                "checkpoint restarts batch ids at 0, which would clobber "
                "the existing partitions and skip dedup against the "
                "existing corpus. Reuse the original checkpoint dir to "
                "resume, or pass allow_restart=True to continue past the "
                "existing corpus with offset batch ids."
            )
    elif has_data and not allow_restart:
        raise ValueError(
            f"corpus at {corpus_path!r} already holds data but carries no "
            "_ingest_stream marker (written by another tool or an older "
            "version). Refusing to ingest on top of it; pass "
            "allow_restart=True to continue past it with offset batch ids."
        )
    existing = _existing_max_batch(spark, corpus_path)
    base = 0 if existing is None else existing + 1
    _write_text(spark, marker_path, json.dumps({"id": ident, "base": base}))
    return base


def _drain_into_store(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    append,
    *,
    caller: str,
    timeout_sec: int,
    allow_restart: bool,
    marker_sub: str = "",
    precheck=None,
) -> None:
    """The one streaming store-maintenance drain: reject the reserved
    partition column, pin the run to the store's current generation,
    match the stream identity (``_resolve_stream_base``, marker at
    ``{store}{marker_sub}``), then drain availableNow, calling
    ``append(batch_df, store_dir, part)`` per micro-batch with ``part``
    offset by the run's base — so an ``allow_restart`` run continues
    PAST the prior run's partitions instead of colliding with them.

    ``precheck(spark, store_dir)`` is the family's eager validation: a
    failure inside foreachBatch would surface as an opaque
    StreamingQueryException after the checkpoint is already created.
    Compaction mid-stream is forbidden on both layouts, so the pointer
    cannot move under a running drain."""
    spark = stream_df.sparkSession
    if "ingest_batch_id" in stream_df.columns:
        raise ValueError(
            f"{caller} reserves the 'ingest_batch_id' column for the "
            "store partition key; rename it in the input"
        )
    path = resolve_root(spark, path)
    if precheck is not None:
        precheck(spark, path)
    base = _resolve_stream_base(
        spark, f"{path}{marker_sub}", checkpoint_dir, allow_restart
    )
    _drain_foreach(
        stream_df,
        lambda batch_df, batch_id: append(batch_df, path, base + batch_id),
        checkpoint_dir, timeout_sec, caller,
    )


def stream_ingest_dedup(
    stream_docs: DataFrame,
    store_path: str,
    corpus_path: str,
    audit_path: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    tau_num: int = 1,
    tau_den: int = 2,
    max_bucket: int = 50,
    timeout_sec: int = 300,
    allow_restart: bool = False,
) -> None:
    """Drain ``stream_docs`` (bounded, availableNow) through the
    dedup-ingest loop. ``store_path`` must hold a band store built by
    ``build_minhash_band_store`` (possibly over an empty corpus);
    ``corpus_path`` accumulates accepted documents, one
    ``ingest_batch_id={N}`` partition per batch; ``audit_path``
    accumulates (doc_old, doc_new, kind) drop records partitioned by
    ``batch_id`` — ``kind`` is 'store' (cross-batch) or 'self'
    (within-batch). Corpus and audit partitions are staged and
    rename-published, so even a raw reader never sees a torn batch;
    a fresh-checkpoint restart against a populated corpus fails
    loudly unless ``allow_restart=True`` (see module docstring).
    NB: audit dirs written before the ``kind`` column existed hold
    3-column files; read such mixed dirs with
    ``option("mergeSchema", "true")`` (old rows read kind=null)."""
    spark = stream_docs.sparkSession

    def process(batch_df: DataFrame, corpus_path: str, part: int) -> None:
        # all partition ids and fences use the base-offset ``part``
        # within-batch self-dedup: lower id survives
        self_pairs = minhash_lsh_pairs(
            batch_df,
            text_col,
            id_col,
            n=n,
            tau_num=tau_num,
            tau_den=tau_den,
            max_bucket=max_bucket,
        )
        # materialize the pair set once: it feeds the drop filter AND
        # the audit write, and its lineage is the whole LSH job
        self_pairs = self_pairs.localCheckpoint(eager=True)
        self_drop = self_pairs.select(F.col("doc_b").alias(id_col)).distinct()
        batch = batch_df.join(self_drop, on=id_col, how="left_anti")
        # store check: anything near-dupping the accepted corpus drops
        # (first batch ever: no corpus written yet -> empty relation).
        # ONLY the missing-path case falls back to empty — a corrupt
        # or unreadable corpus must fail the batch, and a MISSING
        # corpus alongside a non-empty store means the caller pointed
        # at the wrong corpus dir: an empty substitute would void the
        # verify join and silently admit every duplicate
        from pyspark.errors import AnalysisException

        try:
            corpus = spark.read.parquet(corpus_path)
            # replay fence: a re-delivered batch must dedup against
            # the PRE-batch corpus — its own earlier write (published
            # whole or not at all) is excluded by partition pruning
            if "ingest_batch_id" in corpus.columns:
                corpus = corpus.filter(
                    F.col("ingest_batch_id") < part
                ).drop("ingest_batch_id")
        except AnalysisException:
            bands = spark.read.parquet(f"{store_path}/bands")
            if bands.limit(1).count() > 0:
                raise ValueError(
                    f"corpus path {corpus_path!r} is unreadable but the "
                    f"band store at {store_path!r} is non-empty — wrong "
                    "corpus dir? Refusing to treat the corpus as empty "
                    "(that would admit every duplicate)."
                )
            corpus = spark.createDataFrame([], batch_df.schema)
        pairs = dedup_against_store(
            batch,
            store_path,
            corpus,
            text_col,
            id_col,
            n=n,
            tau_num=tau_num,
            tau_den=tau_den,
            max_bucket=max_bucket,
            before_batch=part,  # same replay fence, store side
        ).localCheckpoint(eager=True)  # reused by drop filter + audit
        store_drop = pairs.select(F.col("doc_new").alias(id_col)).distinct()
        # materialize survivors before the two appends: without this,
        # each write re-runs the batch dedup lineage (and the second
        # one would run AFTER the corpus append — correct only by
        # virtue of Spark's cached file listing)
        survivors = batch.join(
            store_drop, on=id_col, how="left_anti"
        ).localCheckpoint(eager=True)
        # corpus/audit: stage to a dot-prefixed dir (invisible to
        # readers), then rename-publish whole — a crash at ANY point
        # leaves either the complete pre-batch state or the complete
        # post-batch state visible, never a torn partition
        corpus_staging = f"{corpus_path}/.staging-ingest-{part}"
        survivors.write.mode("overwrite").parquet(corpus_staging)
        _publish(
            spark, corpus_staging, f"{corpus_path}/ingest_batch_id={part}"
        )
        append_to_minhash_band_store(
            survivors, store_path, text_col, id_col, n, batch_id=part
        )
        # audit BOTH drop kinds: cross-batch (store) and within-batch
        # (self) — a provenance consumer must account for every doc
        # that entered the stream but not the corpus
        audit = pairs.select("doc_old", "doc_new").withColumn(
            "kind", F.lit("store")
        ).unionByName(
            self_pairs.select(
                F.col("doc_a").alias("doc_old"), F.col("doc_b").alias("doc_new")
            ).withColumn("kind", F.lit("self"))
        )
        audit_staging = f"{audit_path}/.staging-audit-{part}"
        audit.write.mode("overwrite").parquet(audit_staging)
        _publish(spark, audit_staging, f"{audit_path}/batch_id={part}")

    _drain_into_store(
        stream_docs, corpus_path, checkpoint_dir, process,
        caller="stream_ingest_dedup", timeout_sec=timeout_sec,
        allow_restart=allow_restart,
    )


def compact_corpus(
    spark: SparkSession, corpus_path: str, commit: str | None = None
) -> None:
    """Collapse a long-appended ingest corpus (one ``ingest_batch_id``
    partition per micro-batch) into a single partition holding the
    identical rows — the small-files maintenance an unbounded ingest
    eventually needs (at one partition per batch, a year of 5-minute
    batches is ~100k directories of tiny files).

    The compacted rows land in the RESERVED base partition
    ``ingest_batch_id=-1`` (the id no stream batch can ever produce:
    parts are ``base + batch_id`` with both >= 0). The
    ``ingest_batch_id < part`` replay fence includes -1 for every
    future part, so compacted rows stay dedup-visible; a resumed
    stream's next batch lands beside the base; and — the reason the
    id is reserved rather than the corpus's max id (ADVICE r8) — a
    crashed stream's REPLAYED last batch overwrites only its own
    ``ingest_batch_id={part}`` partition, never the partition now
    holding the whole compacted corpus.

    NOT concurrency-safe, and only run it after a CLEAN drain (the
    same stopped-stream contract as ``compact_sketch_store`` /
    ``compact_minhash_band_store``): compacting between a crash and
    its replay would fold a torn batch's rows into the base where the
    replay fence can no longer exclude them (the replay then re-dedups
    against its own earlier rows — duplicates dropped, but the batch's
    provenance audit double-counts). With the reserved base id the
    worst case is that anomaly, not corpus loss.

    The compacted corpus and its ``_ingest_stream`` identity marker
    are staged whole and published once
    (``sources.manifest.staged_store``): a crash at any point leaves
    the live corpus untouched.

    ``commit`` picks the publish layout: ``None`` preserves whatever
    layout the corpus already has; ``"manifest"`` publishes the
    compacted corpus as a fresh GENERATION under the original root
    (converting a rename-layout corpus on its first use);
    ``"rename"`` refuses a manifest-layout corpus (no down-migration —
    readers may hold the pointer). After a manifest compaction the
    stream resumes against the new generation automatically
    (``stream_ingest_dedup`` resolves the pointer at start)."""
    if commit not in (None, "rename", "manifest"):
        raise ValueError(
            f"commit must be None, 'rename' or 'manifest', got {commit!r}"
        )
    cur, layout = store_layout(spark, corpus_path)
    if commit == "rename" and layout == "manifest":
        raise ValueError(
            f"corpus at {corpus_path!r} is manifest-layout; commit='rename' "
            "would strand readers holding the generation pointer"
        )
    if _existing_max_batch(spark, cur) is None:
        raise ValueError(f"{cur!r} holds no batch partitions")
    df = spark.read.parquet(cur).drop("ingest_batch_id")
    target = commit or layout
    with staged_store(spark, corpus_path, target) as staged:
        df.write.mode("overwrite").parquet(f"{staged}/ingest_batch_id=-1")
        _carry(spark, cur, staged, "_ingest_stream")
    if target != layout:
        # first manifest commit over a rename-layout corpus: the old
        # loose batch partitions now live in the committed generation;
        # remove them from the root so a pointer-unaware reader cannot
        # double-read. The pointer is already committed, so a crash
        # mid-cleanup leaves a bigger root dir, never a torn corpus.
        for name in _ls(spark, corpus_path):
            if name.startswith("ingest_batch_id=") or name == "_ingest_stream":
                _rm_dir(spark, f"{corpus_path}/{name}")


def stream_maintain_gram_store(
    stream_docs: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int | None = None,
    timeout_sec: int = 300,
    allow_restart: bool = False,
) -> None:
    """Keep a repeated-substring gram store
    (``functions.dedup.build_gram_store`` layout) current from an
    unbounded document stream — the ExactSubstr twin of
    ``streaming.ann.stream_index_embeddings``, with the SAME restart
    protection (checkpoint identity marker, idempotent
    ``ingest_batch_id`` partitions, loud fresh-checkpoint failure,
    ``allow_restart`` base offsetting).

    The store may start empty (the first batch creates it — an
    explicit ``min_len`` is then required and is recorded in
    ``_gram_meta``) or hold a prior ``build_gram_store`` base;
    ``min_len=None`` adopts the recorded width and explicit mismatches
    raise. Per-batch cost is one narrow scan of the batch (window
    fingerprints + one map-side-combinable count aggregate — the
    existing store is never read). Compact with
    ``functions.dedup.compact_gram_store`` when delta-row count
    warrants it, stream STOPPED, like every compact path."""
    from ..functions.dedup import (
        _gram_meta_exists,
        _resolve_gram_meta,
        append_to_gram_store,
    )

    def precheck(spark, store_path: str) -> None:
        # the width contract, BOTH directions: a fresh store with no
        # min_len, and an explicit min_len that mismatches an existing
        # store's recorded _gram_meta (ADVICE r9)
        if _gram_meta_exists(spark, store_path):
            _resolve_gram_meta(
                spark, store_path, min_len, "stream_maintain_gram_store"
            )
        elif min_len is None:
            raise ValueError(
                f"store at {store_path!r} does not exist yet: a fresh store "
                "needs an explicit min_len (it is recorded in _gram_meta and "
                "adopted by every later append/clean)"
            )

    _drain_into_store(
        stream_docs, store_path, checkpoint_dir,
        lambda batch_df, path, part: append_to_gram_store(
            batch_df, path, text_col=text_col, id_col=id_col,
            min_len=min_len, batch_id=part,
        ),
        caller="stream_maintain_gram_store", timeout_sec=timeout_sec,
        allow_restart=allow_restart, marker_sub="/grams", precheck=precheck,
    )


def stream_maintain_bm25_index(
    stream_docs: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    timeout_sec: int = 300,
    allow_restart: bool = False,
) -> None:
    """Keep a BM25 inverted index
    (``functions.retrieval.build_bm25_index`` layout) current from an
    unbounded document stream — the lexical-retrieval twin of
    ``stream_maintain_gram_store``, with the SAME restart protection
    (checkpoint identity marker under ``{index}/postings``, idempotent
    ``ingest_batch_id`` partitions, loud fresh-checkpoint failure,
    ``allow_restart`` base offsetting).

    The index must already exist (``build_bm25_index`` records
    ``n_buckets`` in ``_bm25_meta``; a stream cannot pick the bucket
    count). Per-batch cost is O(batch): postings + df deltas + one
    stats row (``append_to_bm25_index``), the existing index never
    read. Compact with ``functions.retrieval.compact_bm25_index``
    when delta rows warrant it — stream STOPPED, like every compact
    path (compaction preserves the stream marker on both layouts)."""
    from ..functions.retrieval import append_to_bm25_index

    _drain_into_store(
        stream_docs, index_path, checkpoint_dir,
        lambda batch_df, path, part: append_to_bm25_index(
            batch_df, path, text_col=text_col, id_col=id_col, batch_id=part
        ),
        caller="stream_maintain_bm25_index", timeout_sec=timeout_sec,
        allow_restart=allow_restart, marker_sub="/postings",
        precheck=_require_table(
            "_bm25_meta",
            "no BM25 index at {path!r}: build it first with "
            "build_bm25_index (the stream cannot pick n_buckets)",
        ),
    )


def _require_table(name: str, msg: str):
    """An eager store-existence precheck: the bounded metadata table
    ``name`` must be readable, else ``msg`` (formatted with ``path``)
    is raised."""
    from pyspark.errors import AnalysisException

    def precheck(spark, path: str) -> None:
        try:
            # bounded-collect: a metadata table (parameter row / nlist
            # centroid rows)
            spark.read.parquet(f"{path}/{name}").collect()
        except AnalysisException:
            raise ValueError(msg.format(path=path)) from None

    return precheck


def _maintain_ann(
    fam, stream_vecs: DataFrame, index_path: str, checkpoint_dir: str,
    vec_col: str, id_col: str, timeout_sec: int, allow_restart: bool,
    **load_kw,
) -> None:
    """The one ANN stream maintainer: drain ``stream_vecs`` into the
    ``fam`` index at ``index_path``, each micro-batch through the
    family's append (``similarity._ann_append``) into its own
    idempotent ``ingest_batch_id`` partition. The eager precheck is
    that append's own layout guard (``similarity._family_guard``), run
    before the checkpoint exists: a missing store (an LSH store may
    start empty — the first batch creates it) or another family's
    store fails here, naming the right build or maintainer, instead
    of as an opaque StreamingQueryException."""
    _drain_into_store(
        stream_vecs, index_path, checkpoint_dir,
        lambda batch_df, path, part: _ann_append(
            fam, batch_df, path, part, vec_col, id_col, fam.append, **load_kw
        ),
        caller=fam.stream, timeout_sec=timeout_sec,
        allow_restart=allow_restart,
        precheck=lambda spark, path: _family_guard(
            fam, spark, path, fam.stream, use="stream", **load_kw
        ),
    )


def stream_maintain_ann_ivfpq_index(
    stream_vecs: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    timeout_sec: int = 300,
    allow_restart: bool = False,
) -> None:
    """Keep an IVF-PQ index
    (``functions.similarity.build_ann_ivfpq_index`` layout) current
    from an unbounded embedding stream — the dense-retrieval twin of
    ``stream_maintain_bm25_index``, with the SAME restart protection
    (checkpoint identity marker at the index root, idempotent
    ``ingest_batch_id`` partitions, loud fresh-checkpoint failure,
    ``allow_restart`` base offsetting).

    The index must already exist (``build_ann_ivfpq_index`` records
    the centroids, residual codebooks, and construction params; a
    stream cannot train quantizers). Per-batch cost is O(batch): one
    cell assignment + residual encode against the FROZEN metadata
    (``append_to_ann_ivfpq_index``), cell-subpartitioned so probes
    prune streamed data exactly like the base — the existing index is
    never read beyond its bounded metadata tables. Rebuild with
    ``lloyd_iters`` when quantization drift erodes probe recall (the
    composite layout's documented trade-off)."""
    _maintain_ann(
        _IVFPQ, stream_vecs, index_path, checkpoint_dir, vec_col, id_col,
        timeout_sec, allow_restart,
    )


def stream_maintain_ann_ivf_index(
    stream_vecs: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    timeout_sec: int = 300,
    allow_restart: bool = False,
) -> None:
    """Keep a plain IVF index
    (``functions.similarity.build_ann_ivf_index`` layout) current from
    an unbounded embedding stream — part of the streaming-maintainer
    fleet (LSH via ``streaming.ann.stream_index_embeddings``, IVF-PQ
    via :func:`stream_maintain_ann_ivfpq_index`, IVF-SQ8 via
    :func:`stream_maintain_ann_ivfsq8_index`, BM25, gram store,
    corpus dedup) with the SAME restart protection: checkpoint
    identity marker at the index root, idempotent ``ingest_batch_id``
    partitions, loud fresh-checkpoint failure, ``allow_restart`` base
    offsetting.

    The index must already exist (the stream assigns to the FROZEN
    persisted centroids — it cannot train them); an IVF-PQ index at
    the path is rejected loudly (its batches carry codes, not raw
    embeddings — use the IVF-PQ maintainer). Per-batch cost is
    O(batch): one centroid assignment (``append_to_ann_ivf_index``),
    cell-subpartitioned so probes prune streamed data exactly like
    the base."""
    _maintain_ann(
        _IVF, stream_vecs, index_path, checkpoint_dir, vec_col, id_col,
        timeout_sec, allow_restart,
    )


def stream_maintain_ann_ivfsq8_index(
    stream_vecs: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    timeout_sec: int = 300,
    allow_restart: bool = False,
) -> None:
    """Keep an IVF-SQ8 index
    (``functions.similarity.build_ann_ivfsq8_index`` layout) current
    from an unbounded embedding stream — the scalar-quantized member
    of the maintainer fleet, with the SAME restart protection
    (checkpoint identity marker at the index root, idempotent
    ``ingest_batch_id`` partitions, loud fresh-checkpoint failure,
    ``allow_restart`` base offsetting).

    The index must already exist (the stream assigns to the FROZEN
    persisted centroids); non-SQ8 stores at the path are rejected
    loudly. Per-batch cost is O(batch): one cell assignment + the
    per-vector SQ8 quantization (``append_to_ann_ivfsq8_index``) —
    and because SQ8 has no trained codebook, streamed batches
    quantize EXACTLY like the base build (no quantizer drift, the
    property the IVF-PQ maintainer's docstring trades away)."""
    _maintain_ann(
        _SQ8, stream_vecs, index_path, checkpoint_dir, vec_col, id_col,
        timeout_sec, allow_restart,
    )
