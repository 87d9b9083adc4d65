"""Streaming ANN index maintenance: keep a persisted LSH index
current from an unbounded embedding stream.

The batch twin (``functions.similarity.append_to_ann_lsh_index``)
already makes the index layout batch-partitioned and
overwrite-idempotent; this loop drives it from Structured Streaming
with the SAME restart protection as the dedup ingest
(``streaming.ingest``): the checkpoint carries a stream identity
mirrored in ``{index_path}/_ingest_stream`` (underscore prefix —
invisible to the partitioned parquet read), so

* an engine REPLAY of a batch overwrites its own
  ``ingest_batch_id={n}`` partition — probes never see duplicated
  vectors (duplicate index rows would surface as duplicate
  candidates and corrupt ranks);
* a NEW stream (fresh checkpoint) against a populated index fails
  loudly unless ``allow_restart=True``, which base-offsets its
  batches past the existing partitions instead of clobbering
  ``ingest_batch_id=0``.

Scale: per-batch cost is one narrow scan of the batch (bucket
assignment is seeded-plane dot products — no shuffle, no read of the
existing index beyond its ``_lsh_meta`` row). Probes
(``ann_lsh_topk_indexed``) read all batch partitions with
bucket-directory pruning within each; when the partition count
(small files) matters, ``functions.similarity.compact_ann_index``
folds the batch partitions back into the base partition from the
store alone — with the stream STOPPED, same contract as every compact
path in this package.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.similarity import append_to_ann_lsh_index
from .ingest import _drain_into_store

__all__ = ["stream_index_embeddings"]


def stream_index_embeddings(
    stream_emb: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    *,
    n_planes: int | None = None,
    dim: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    timeout_sec: int = 300,
    allow_restart: bool = False,
) -> None:
    """Drain ``stream_emb`` (bounded, availableNow) into the
    batch-partitioned LSH index at ``index_path``. The index may
    start empty (the first batch creates it) or hold a prior
    ``build_ann_lsh_index`` base — either way every batch lands in
    its own idempotent partition. ``n_planes``/``dim`` default to the
    index's persisted ``_lsh_meta`` (explicit mismatches raise — see
    ``_resolve_lsh_params``); a stream-created index with no prior
    build uses the shared ANN constants. A manifest-committed index
    is pinned to its current generation for the whole run."""
    _drain_into_store(
        stream_emb, index_path, checkpoint_dir,
        lambda batch_df, path, part: append_to_ann_lsh_index(
            batch_df, path, batch_id=part, n_planes=n_planes, dim=dim,
            vec_col=vec_col, id_col=id_col,
        ),
        caller="stream_index_embeddings", timeout_sec=timeout_sec,
        allow_restart=allow_restart,
    )
