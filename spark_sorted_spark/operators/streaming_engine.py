"""Per-partition, per-key-run streaming engine over pandas chunks.

This is the PySpark re-expression of the reference's iterator engine
``mapStreamIteratorWithContext``
(``/root/reference/src/main/scala/com/tresata/spark/sorted/package.scala:12-55``):
walk a group-sorted partition, carve out a lazy per-key value
sub-iterator, hand it to a user function, and drain whatever the user
didn't consume before moving to the next key. The group for a key is
NEVER materialized — state is O(one chunk), so a single key with a
billion rows streams through in bounded memory (the reference's core
claim, ``README.md:4``).

Differences from the Scala original, dictated by the Arrow transport:

* The unit of work is a pandas chunk (Arrow batch slice), not a row.
  A key's run may span many chunks, and one chunk may contain many
  runs — ``iter_key_runs`` handles both.
* Group boundaries are detected by key *equality* on the key columns
  (same semantics as ``package.scala:22``: equality, not ordering —
  the sort only guarantees equal keys are adjacent). Null keys compare
  equal to each other (Spark groups null keys together).
* Empty-output keys need no special casing here (the reference had to
  tail-recurse to skip them, ``package.scala:30-38``, github issue #5):
  a ``mapInPandas`` function simply yields nothing for that key.

Used by the streaming ("never materialize") tier of
``map_stream_by_key`` / ``fold_left_by_key`` / ``reduce_left_by_key``
/ ``scan_left_by_key``. The materializing tier uses ``applyInPandas``
instead and doesn't come through here.

Output is batched across keys, never one Arrow batch per key (Spark's
fixed cost per batch would dominate when groups are small):
``run_fold_partition`` buffers one row per key and builds a frame per
``emit_every`` keys; ``map_stream_by_key``'s stream and arrow tiers
concatenate the consecutive user frames of equal columns and dtypes
yielded while one input batch is current; the scan tier emits one frame
per input batch.
"""

from __future__ import annotations

from collections import deque
from typing import Any, Callable, Iterable, Iterator

import pandas as pd

__all__ = ["split_runs", "iter_key_runs", "key_of"]


def key_of(chunk: pd.DataFrame, key_cols: tuple[str, ...]) -> tuple:
    """Normalized key tuple of a chunk's first row (None for nulls so
    null == null, mirroring Spark's null-safe grouping)."""
    out = []
    for k in key_cols:
        v = chunk[k].iloc[0]
        out.append(None if pd.isna(v) else v)
    return tuple(out)


def split_runs(
    pdf: pd.DataFrame, key_cols: tuple[str, ...]
) -> Iterator[pd.DataFrame]:
    """Split one chunk into maximal runs of consecutive equal keys
    (vectorized: shift-compare + cumsum, no Python row loop)."""
    if len(pdf) == 0:
        return
    keys = pdf[list(key_cols)]
    shifted = keys.shift()
    changed = (keys.ne(shifted) & ~(keys.isna() & shifted.isna())).any(axis=1)
    changed.iloc[0] = True
    run_ids = changed.cumsum()
    for _, sub in pdf.groupby(run_ids, sort=False):
        yield sub


class _Peekable:
    __slots__ = ("_it", "_head", "_has")

    def __init__(self, it: Iterator):
        self._it = it
        self._has = False
        self._head = None

    def has_next(self) -> bool:
        if not self._has:
            try:
                self._head = next(self._it)
                self._has = True
            except StopIteration:
                return False
        return True

    def peek(self):
        if not self.has_next():
            raise StopIteration
        return self._head

    def next(self):
        v = self.peek()
        self._has = False
        self._head = None
        return v


def iter_key_runs(
    batches: Iterable[pd.DataFrame],
    key_cols: tuple[str, ...],
    *,
    verify_sorted: bool = False,
) -> Iterator[tuple[tuple, Iterator[pd.DataFrame]]]:
    """Yield ``(key, chunk_iter)`` for every key run in a group-sorted
    partition. ``chunk_iter`` lazily yields pandas chunks belonging to
    that key, pulling new Arrow batches only on demand. The consumer
    need not exhaust ``chunk_iter`` — unconsumed chunks are drained
    before the next key is yielded (the reference's ``finish()``,
    ``package.scala:28,47``).

    With ``verify_sorted`` the engine asserts keys never *reappear*
    after their run ends (the debug analogue of the reference's
    sortedness asserts, ``package.scala:128,163,168``).
    """

    def pieces() -> Iterator[tuple[tuple, pd.DataFrame]]:
        for pdf in batches:
            for sub in split_runs(pdf, key_cols):
                yield key_of(sub, key_cols), sub

    it = _Peekable(pieces())
    seen: set | None = set() if verify_sorted else None
    while it.has_next():
        key = it.peek()[0]
        if seen is not None:
            assert key not in seen, f"input not group-sorted: key {key!r} reappeared"
            seen.add(key)

        def chunk_iter(key=key) -> Iterator[pd.DataFrame]:
            while it.has_next() and it.peek()[0] == key:
                yield it.next()[1]

        ci = chunk_iter()
        yield key, ci
        # drain the tail the consumer didn't pull, keeping no chunk alive
        deque(ci, maxlen=0)


def run_fold_partition(
    batches: Iterable[pd.DataFrame],
    key_cols: tuple[str, ...],
    init: Callable[[tuple], Any],
    step_chunk: Callable[[Any, pd.DataFrame], Any],
    emit_row: Callable[[tuple, Any], tuple | None],
    out_cols: list[str],
    *,
    emit_every: int = 8192,
) -> Iterator[pd.DataFrame]:
    """Generic streaming fold driver: per key run, ``acc = init(key)``,
    ``acc = step_chunk(acc, chunk)`` per chunk, then one output row
    ``emit_row(key, acc)`` per key. Rows are buffered as plain tuples
    and materialized into one pandas DataFrame per ``emit_every`` keys
    — building a 1-row DataFrame per key (and an Arrow batch per key)
    would dominate runtime when groups are small."""
    rows: list[tuple] = []
    for key, chunks in iter_key_runs(batches, key_cols):
        acc = init(key)
        for chunk in chunks:
            acc = step_chunk(acc, chunk)
        row = emit_row(key, acc)
        if row is not None:
            rows.append(row)
            if len(rows) >= emit_every:
                yield pd.DataFrame(rows, columns=out_cols)
                rows = []
    if rows:
        yield pd.DataFrame(rows, columns=out_cols)


def iter_key_runs_arrow(batches, key_cols: tuple[str, ...]):
    """Arrow twin of ``iter_key_runs``: yields ``(key, batch_iter)``
    where ``batch_iter`` lazily yields **zero-copy** ``pyarrow``
    RecordBatch slices of one key's run. No pandas materialization
    anywhere — the fastest Python path for huge groups.

    Run detection is vectorized per batch (numpy change-mask over the
    key columns); slices are ``RecordBatch.slice`` views into the
    original Arrow buffers."""
    import numpy as np
    import pyarrow as pa

    def pieces():
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            karrs = [
                rb.column(rb.schema.get_field_index(k)).to_numpy(
                    zero_copy_only=False
                )
                for k in key_cols
            ]
            changed = np.zeros(n, dtype=bool)
            changed[0] = True
            for a in karrs:
                neq = a[1:] != a[:-1]
                if a.dtype == object or np.issubdtype(a.dtype, np.floating):
                    both_na = pd.isna(a[1:]) & pd.isna(a[:-1])
                    neq &= ~both_na
                changed[1:] |= neq
            starts = np.flatnonzero(changed)
            ends = np.append(starts[1:], n)
            for s, e in zip(starts, ends):
                key = tuple(
                    None if pd.isna(a[s]) else a[s] for a in karrs
                )
                yield key, rb.slice(int(s), int(e - s))

    it = _Peekable(pieces())
    while it.has_next():
        key = it.peek()[0]

        def batch_iter(key=key):
            while it.has_next() and it.peek()[0] == key:
                yield it.next()[1]

        bi = batch_iter()
        yield key, bi
        deque(bi, maxlen=0)  # drain unconsumed tail, keeping no slice alive
