"""map_stream_by_key — the reference's central operator (A1/A2).

``mapStreamByKey(f: Iterator[V] => TraversableOnce[W])``
(``GroupSorted.scala:41-43``, engine ``package.scala:12-58``): apply
``f`` to each key's value stream in value order, emitting 0..n output
rows per key, without materializing the group.

Physical tiers:

* ``pandas`` — ``df.groupBy(keys).applyInPandas``: each group arrives
  as one pandas DataFrame. Simple, fast for bounded groups; the
  group IS materialized (acceptable default, called out in SURVEY §2.3).
* ``stream`` — ``df.mapInPandas`` over the group-sorted partitions via
  ``iter_key_runs``: ``f`` receives a lazy iterator of pandas chunks
  and yields output chunks; memory stays O(chunk) per key no matter
  the group size — the faithful never-materialize port (README.md:4).
  ``f`` need not exhaust its input iterator (the engine drains it —
  same contract as ``package.scala:28``, pinned by the reference test
  ``GroupSortedSpec.scala:137-145``).

User function contracts (both tiers emit FULL output rows, including
key columns, matching ``schema``):

* pandas tier:  ``f(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame``
* stream tier:  ``f(key: tuple, chunks: Iterator[pd.DataFrame])
  -> Iterator[pd.DataFrame]``
* arrow tier:   ``f(key: tuple, rbs: Iterator[pyarrow.RecordBatch])
  -> Iterator[pyarrow.RecordBatch]`` — zero-copy input slices via
  ``mapInArrow``; no pandas anywhere on the hot path.

Per-partition reusable context (the reference's A2
``mapStreamByKey(c: () => C)(f: (C, Iterator[V]) => ...)``,
``GroupSorted.scala:43``, engine ``package.scala:12-13`` — context
created ONCE per partition, passed to ``f`` for every key; reference
test: reusable ``ArrayBuffer``, ``GroupSortedSpec.scala:78-91``): pass
``context=factory``. The factory runs once per partition (stream/arrow
tiers) or once per worker process serving the task (pandas tier — a
strict superset of per-partition reuse), and ``func`` then takes the
context as its FIRST argument: ``f(ctx, key, ...)``.

Empty output for a key is fine in both tiers (the reference needed a
dedicated fix for this — github issue #5, ``package.scala:30-38``; in
the Arrow world an empty/yielded-nothing result is naturally legal).

Output batching (stream and arrow tiers): Spark pays a fixed cost per
output Arrow batch, so the tiers do not hand over each key's output on
its own. They send one batch per INPUT Arrow batch, as the scan tier
does: the non-empty frames (RecordBatches) ``f`` yields while one input
batch is current are buffered, across keys, and concatenated when the
partition moves on to the next input batch, when the next frame's
columns or dtypes (schema) differ from the buffered ones, and when the
partition ends. A lone frame goes out as it is. Output rows, their
order and their types are exactly those of sending every frame alone.
The buffer holds only what ``f`` yielded while the current input batch
was read, so frames that are views of their input (``pdf.iloc[:n]``,
``rb.slice``) keep one earlier input batch alive, not one per key (two
when ``f`` yields a view of a key's last chunk after the engine has
read ahead into the next batch). ``f`` must not mutate a frame after
yielding it.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd

from ..core import GroupSortedFrame
from .streaming_engine import iter_key_runs

__all__ = ["map_stream_by_key", "take_by_key"]


def _per_input_batch(
    batches: Iterable, outputs: Callable, signature: Callable, concat: Callable
) -> Iterator:
    """Run ``outputs(batches)`` and merge its consecutive non-empty
    outputs of equal ``signature`` produced while the same input batch
    is current into one (see the module docstring). ``None`` and empty
    outputs are dropped."""
    pulled = 0

    def counted() -> Iterator:
        nonlocal pulled
        for b in batches:
            pulled += 1
            yield b

    buf: list = []
    sig = at = None
    for x in outputs(counted()):
        if x is None or not len(x):
            continue
        s = signature(x)
        if buf and (s != sig or pulled != at):
            yield buf[0] if len(buf) == 1 else concat(buf)
            buf = []
        buf.append(x)
        sig, at = s, pulled
    if buf:
        yield buf[0] if len(buf) == 1 else concat(buf)


def _frame_signature(pdf: pd.DataFrame) -> tuple:
    return tuple(pdf.columns), tuple(pdf.dtypes)


def _concat_frames(buf: list) -> pd.DataFrame:
    return pd.concat(buf, ignore_index=True)


def _concat_batches(buf: list):
    import pyarrow as pa

    # pyarrow 16 has no concat_batches
    return pa.Table.from_batches(buf).combine_chunks().to_batches()[0]


def map_stream_by_key(
    gsf: GroupSortedFrame,
    func: Callable,
    schema: str,
    tier: str = "auto",
    context: Callable[[], object] | None = None,
):
    if tier == "auto":
        tier = "pandas"

    if tier == "pandas":
        sort_cols = [s.col for s in gsf.order_specs]
        sort_asc = [s.ascending for s in gsf.order_specs]
        key_cols = list(gsf.key_cols)
        # A2 context for the pandas tier: applyInPandas offers no
        # partition-open hook, so the context is created lazily on the
        # first group a worker process sees and reused for every
        # subsequent group that worker handles — at least the whole
        # task/partition, i.e. a strict superset of the reference's
        # per-partition reuse (GroupSorted.scala:43).
        ctx_cell: list = []

        def per_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            if sort_cols:
                pdf = pdf.sort_values(sort_cols, ascending=sort_asc, kind="stable")
            if context is not None:
                if not ctx_cell:
                    ctx_cell.append(context())
                out = func(ctx_cell[0], key, pdf)
            else:
                out = func(key, pdf)
            # no columns at all: Spark accepts an empty result of any shape
            return out if out is not None else pd.DataFrame()

        return gsf.df.groupBy(*key_cols).applyInPandas(per_group, schema)

    if tier == "stream":
        key_cols = gsf.key_cols

        def outputs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # context created once per partition (package.scala:13)
            ctx = context() if context is not None else None
            for key, chunks in iter_key_runs(batches, key_cols):
                out = func(ctx, key, chunks) if context is not None else func(
                    key, chunks
                )
                if out is not None:
                    yield from out

        def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            return _per_input_batch(batches, outputs, _frame_signature, _concat_frames)

        return gsf.df.mapInPandas(part, schema)

    if tier == "arrow":
        # zero-copy tier: func(key, record_batches) -> iterator of
        # pyarrow RecordBatches. No pandas conversion on input — each
        # chunk is a slice view into the Arrow buffers Spark shipped.
        from .streaming_engine import iter_key_runs_arrow

        key_cols = gsf.key_cols

        def outputs_arrow(batches):
            ctx = context() if context is not None else None
            for key, rbs in iter_key_runs_arrow(batches, key_cols):
                out = func(ctx, key, rbs) if context is not None else func(key, rbs)
                if out is not None:
                    yield from out

        def part_arrow(batches):
            return _per_input_batch(
                batches, outputs_arrow, lambda rb: rb.schema, _concat_batches
            )

        return gsf.df.mapInArrow(part_arrow, schema)

    raise ValueError(f"unknown tier {tier!r}")


def take_by_key(gsf: GroupSortedFrame, n: int, tier: str = "native"):
    """First n rows per key in value order (the reference's
    take-n-per-key pattern, ``GroupSortedSpec.scala:188-204``).

    Native tier: ``row_number().over(partitionBy(keys).orderBy(order))``
    — Catalyst reuses the existing hash partitioning and partition-local
    sort, so no extra exchange or sort appears in the plan. Stream
    tier: early-exits each key's chunk iterator (exercising the
    don't-exhaust contract) — useful when n << group size and the
    group is huge."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if tier == "native":
        w = Window.partitionBy(*gsf.key_cols).orderBy(
            *[s.expr() for s in gsf.order_specs]
        )
        rn = F.row_number().over(w)
        return (
            gsf.df.withColumn("__rn", rn)
            .filter(F.col("__rn") <= n)
            .drop("__rn", *gsf.hidden_cols)
        )

    if tier in ("stream", "arrow"):
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in gsf.df.schema.fields
        )

        if tier == "stream":

            def take_fn(key, chunks):
                left = n
                for pdf in chunks:
                    if left <= 0:
                        return  # early exit: engine drains the rest
                    out = pdf.iloc[:left]
                    left -= len(out)
                    yield out

        else:

            def take_fn(key, rbs):
                left = n
                for rb in rbs:
                    if left <= 0:
                        return  # early exit: engine drains the rest
                    out = rb.slice(0, min(left, rb.num_rows))
                    left -= out.num_rows
                    yield out

        out = map_stream_by_key(gsf, take_fn, schema, tier=tier)
        # hidden expression-order columns are layout metadata, not
        # part of the user-visible relation
        return out.drop(*gsf.hidden_cols) if gsf.hidden_cols else out

    raise ValueError(f"unknown tier {tier!r}")
