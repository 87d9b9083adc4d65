"""map_stream_by_key semantics on Spark (both tiers) — mirrors
GroupSortedSpec.scala:64-76 (max broadcast), :137-145 (non-exhausted
iterator / first row per key), :147-156 (empty-output keys, issue #5),
:188-204 (take-n-per-key).
"""

import pandas as pd
from pyspark.sql import functions as F
import pytest

from spark_sorted_spark import group_sort
from spark_sorted_spark.operators.map_stream import map_stream_by_key, take_by_key

F2 = [("a", 1), ("b", 10), ("a", 3), ("b", 1), ("c", 5)]


@pytest.fixture(scope="module")
def f2(spark):
    return spark.createDataFrame(F2, ["k", "v"])


@pytest.mark.parametrize("tier", ["pandas", "stream"])
def test_identity_map_stream(spark, f2, tier):
    gs = group_sort(f2, "k", order_by="v", num_partitions=2)
    if tier == "pandas":
        fn = lambda key, pdf: pdf
    else:
        fn = lambda key, chunks: chunks
    out = map_stream_by_key(gs, fn, "k string, v bigint", tier=tier)
    assert sorted(map(tuple, out.collect())) == sorted(F2)


@pytest.mark.parametrize("tier", ["pandas", "stream"])
def test_empty_output_keys_skipped(spark, f2, tier):
    # issue #5: keys producing no output must simply vanish
    if tier == "pandas":
        fn = lambda key, pdf: pdf[pdf["k"] != "a"]
    else:
        def fn(key, chunks):
            for c in chunks:
                yield c[c["k"] != "a"]
    gs = group_sort(f2, "k", order_by="v", num_partitions=2)
    out = map_stream_by_key(gs, fn, "k string, v bigint", tier=tier)
    assert sorted(map(tuple, out.collect())) == sorted(
        [t for t in F2 if t[0] != "a"]
    )


def test_max_broadcast_per_key(spark, f2):
    # GroupSortedSpec.scala:64-76: attach per-key max to every row
    gs = group_sort(f2, "k", order_by=[("v", False)], num_partitions=2)

    def fn(key, chunks):
        mx = None
        for c in chunks:
            if mx is None:
                mx = c["v"].iloc[0]  # first row = max (desc order)
            yield c.assign(mx=mx)

    out = map_stream_by_key(gs, fn, "k string, v bigint, mx bigint", tier="stream")
    got = sorted(map(tuple, out.collect()))
    assert got == sorted([("a", 1, 3), ("a", 3, 3), ("b", 1, 10), ("b", 10, 10), ("c", 5, 5)])


@pytest.mark.parametrize("tier", ["native", "stream", "arrow"])
def test_take_by_key(spark, f2, tier):
    gs = group_sort(f2, "k", order_by="v", num_partitions=2)
    out = take_by_key(gs, 1, tier=tier)
    assert sorted(map(tuple, out.collect())) == [("a", 1), ("b", 1), ("c", 5)]


def test_take_native_no_extra_exchange_or_sort(spark, f2):
    # layout reuse: window over the group-sorted frame must not add a
    # second Exchange (one shuffle total, README.md:37 economics)
    gs = group_sort(f2, "k", order_by="v", num_partitions=2)
    plan = take_by_key(gs, 2, tier="native")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_per_partition_context_closure_idiom(spark, f2):
    # A2 (mapStreamByKey with context): context allocated once per
    # partition in the enclosing closure
    gs = group_sort(f2, "k", order_by="v", num_partitions=2)
    schema = "k string, n bigint"

    def part_fn(key, chunks):
        # reusable buffer lives in the generator's enclosing scope via
        # map_stream stream tier — emulate counting rows per key
        n = 0
        for c in chunks:
            n += len(c)
        yield pd.DataFrame({"k": [key[0]], "n": [n]})

    out = map_stream_by_key(gs, part_fn, schema, tier="stream")
    assert {(r.k, r.n) for r in out.collect()} == {("a", 2), ("b", 2), ("c", 1)}


@pytest.mark.parametrize("tier", ["pandas", "stream"])
def test_context_reusable_buffer(spark, f2, tier):
    # A2 first-class API, mirroring GroupSortedSpec.scala:78-91: a
    # mutable buffer created once per partition by `context=`, cleared
    # and refilled per key; max (first value under desc order)
    # broadcast to every row of the key.
    gs = group_sort(f2, "k", order_by=[("v", False)], num_partitions=2)

    if tier == "pandas":
        def fn(buf, key, pdf):
            buf.clear()
            buf.extend(pdf["v"].tolist())
            mx = buf[0]
            return pd.DataFrame({"k": [key[0]] * len(buf), "v": [mx] * len(buf)})
    else:
        def fn(buf, key, chunks):
            buf.clear()
            for c in chunks:
                buf.extend(c["v"].tolist())
            mx = buf[0]
            yield pd.DataFrame({"k": [key[0]] * len(buf), "v": [mx] * len(buf)})

    out = map_stream_by_key(gs, fn, "k string, v bigint", tier=tier, context=list)
    assert sorted(map(tuple, out.collect())) == sorted(
        [("a", 3), ("a", 3), ("b", 10), ("b", 10), ("c", 5)]
    )


@pytest.mark.parametrize("tier", ["stream", "arrow"])
def test_context_created_once_per_partition(spark, f2, tier):
    # The factory runs once per partition and the SAME object is passed
    # to every key (package.scala:13): a per-context counter must rise
    # strictly across the keys of a single partition.
    import pyarrow as pa

    gs = group_sort(f2, "k", order_by="v", num_partitions=1)

    if tier == "stream":
        def fn(ctx, key, chunks):
            for _ in chunks:
                pass
            ctx["n"] += 1
            yield pd.DataFrame({"k": [key[0]], "seq": [ctx["n"]]})
    else:
        def fn(ctx, key, rbs):
            for _ in rbs:
                pass
            ctx["n"] += 1
            yield pa.RecordBatch.from_pydict({"k": [key[0]], "seq": [ctx["n"]]})

    out = map_stream_by_key(
        gs, fn, "k string, seq bigint", tier=tier, context=lambda: {"n": 0}
    )
    rows = {(r.k, r.seq) for r in out.collect()}
    # one partition, three keys → the shared context counted 1, 2, 3
    assert {s for _, s in rows} == {1, 2, 3} and len(rows) == 3


def test_context_via_frame_method(spark, f2):
    # GroupSortedFrame.map_stream_by_key forwards context=
    gs = group_sort(f2, "k", order_by="v", num_partitions=2)

    def fn(buf, key, pdf):
        buf.clear()
        buf.extend(pdf["v"].tolist())
        return pd.DataFrame({"k": [key[0]], "n": [len(buf)]})

    out = gs.map_stream_by_key(fn, "k string, n bigint", tier="pandas", context=list)
    assert {(r.k, r.n) for r in out.collect()} == {("a", 2), ("b", 2), ("c", 1)}


def test_single_huge_group_streams_in_bounded_memory(spark):
    # The reference's core claim (README.md:4): one key, many rows —
    # the stream tier must never materialize the group. 200k rows
    # through mapInPandas with a per-chunk running aggregate; peak
    # per-callback allocation is O(arrow batch), asserted by observing
    # chunk sizes rather than rss (stable across environments).
    import pandas as pd

    from spark_sorted_spark import group_sort
    from spark_sorted_spark.operators.map_stream import map_stream_by_key

    n = 200_000
    df = spark.range(n).select(
        F.lit("hot").alias("k"), F.col("id").alias("v")
    )
    gs = group_sort(df, "k", order_by="v", num_partitions=2)

    def fn(key, chunks):
        total, count, max_chunk = 0, 0, 0
        for c in chunks:
            max_chunk = max(max_chunk, len(c))
            total += int(c["v"].sum())
            count += len(c)
        yield pd.DataFrame(
            {"k": [key[0]], "s": [total], "n": [count], "mx": [max_chunk]}
        )

    rows = map_stream_by_key(
        gs, fn, "k string, s bigint, n bigint, mx bigint", tier="stream"
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["s"], r["n"]) == (n * (n - 1) // 2, n)
    # the group arrived as many bounded chunks, not one giant frame
    assert r["mx"] < n, "group was materialized in a single chunk"


def test_arrow_tier_matches_stream_tier(spark):
    import pyarrow as pa

    df = spark.createDataFrame(F2 * 50, ["k", "v"])
    gs = group_sort(df, "k", order_by="v", num_partitions=2)

    def fn_arrow(key, rbs):
        n, s = 0, 0
        for rb in rbs:
            col = rb.column(rb.schema.get_field_index("v"))
            n += rb.num_rows
            s += sum(col.to_pylist())
        yield pa.RecordBatch.from_pydict({"k": [key[0]], "n": [n], "s": [s]})

    import pandas as pd

    def fn_pandas(key, chunks):
        n, s = 0, 0
        for c in chunks:
            n += len(c)
            s += int(c["v"].sum())
        yield pd.DataFrame({"k": [key[0]], "n": [n], "s": [s]})

    schema = "k string, n bigint, s bigint"
    got_a = sorted(map(tuple, map_stream_by_key(gs, fn_arrow, schema, tier="arrow").collect()))
    got_p = sorted(map(tuple, map_stream_by_key(gs, fn_pandas, schema, tier="stream").collect()))
    assert got_a == got_p and len(got_a) == 3


# -- output batching (stream and arrow tiers) ------------------------------
# The tiers concatenate the consecutive user frames of equal columns and
# dtypes yielded while one input batch is current. The fixture's
# function switches, key by key, between column orders, int and float
# (NaN) dtypes, object columns, empty frames and None, so a
# concatenation across a signature change would show: int64 values past
# 2**53 lose precision once upcast to float64.
_BIG = 2**53 + 1


def _mixed_fns():
    """``(stream_fn, pandas_fn, arrow_fn)`` — nested, so that Spark
    ships them by value (workers cannot import this test module)."""
    import pyarrow as pa

    big = _BIG

    def frames(key, n):
        k = key[0]
        kind = k % 6
        xs = [big + k + i for i in range(n)]
        if kind == 0:
            yield pd.DataFrame({"k": [k] * n, "x": xs, "s": [f"s{k}"] * n})
        elif kind == 1:  # same columns, other order
            yield pd.DataFrame({"s": [f"r{k}"] * n, "x": xs, "k": [k] * n})
        elif kind == 2:  # float x with NaN: must not be merged with int x
            x = [float(k)] * n
            x[0] = float("nan")
            yield pd.DataFrame({"k": [k] * n, "x": x, "s": [None] * n})
        elif kind == 3:  # empty frames and None are dropped
            yield pd.DataFrame({"k": [], "x": [], "s": []})
            yield None
            yield pd.DataFrame({"k": [k], "x": [big], "s": [None]})
        elif kind == 4:  # object x column
            yield pd.DataFrame(
                {"k": [k] * n, "x": pd.Series(xs, dtype=object), "s": ["o"] * n}
            )
        # kind 5: no output at all

    def stream_fn(key, chunks):
        n = sum(len(c) for c in chunks)
        yield from frames(key, n)

    def pandas_fn(key, pdf):
        out = [f for f in frames(key, len(pdf)) if f is not None and len(f)]
        if not out:
            return None
        cols = ["k", "x", "s"]
        return pd.concat([f[cols].astype(object) for f in out], ignore_index=True)

    def arrow_fn(key, rbs):
        # mapInArrow needs one schema for all of a task's batches, so
        # only the sizes vary here
        n = sum(rb.num_rows for rb in rbs)
        k = key[0]
        kind = k % 4
        if kind == 0:
            yield pa.RecordBatch.from_pydict(
                {"k": [k] * n, "x": [big + k + i for i in range(n)], "s": [f"s{k}"] * n}
            )
        elif kind == 1:
            yield pa.RecordBatch.from_pydict(
                {"k": [k] * n, "x": pa.array([None] * n, pa.int64()),
                 "s": pa.array([None] * n, pa.string())}
            )
        elif kind == 2:
            yield pa.RecordBatch.from_pydict(
                {"k": pa.array([], pa.int64()), "x": pa.array([], pa.int64()),
                 "s": pa.array([], pa.string())}
            )
            yield None
            yield pa.RecordBatch.from_pydict({"k": [k], "x": [big], "s": ["one"]})
        # kind 3: no output at all

    return stream_fn, pandas_fn, arrow_fn


def _mixed_input(spark, n_keys=60, per_key=3):
    rows = [(k, i) for k in range(n_keys) for i in range(per_key)]
    return spark.createDataFrame(rows, "k bigint, v bigint")


_MIXED_SCHEMA = "k bigint, x bigint, s string"


def _typed_rows(df):
    return [tuple(repr(v) for v in r) for r in df.collect()]


def _with_batch_rows(spark, n, build):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        return _typed_rows(build())
    finally:
        spark.conf.set(key, prev)


def test_stream_tier_batching_keeps_rows_order_and_types(spark):
    gs = group_sort(_mixed_input(spark), "k", order_by="v", num_partitions=1)
    stream_fn, pandas_fn, _ = _mixed_fns()

    def build():
        return map_stream_by_key(gs, stream_fn, _MIXED_SCHEMA, tier="stream")

    # input batches of 1 row: every key's frames are sent on their own,
    # as a per-key emitter would
    per_frame = _with_batch_rows(spark, 1, build)
    batched = _with_batch_rows(spark, 7, build)
    default = _typed_rows(build())
    pandas = _typed_rows(map_stream_by_key(gs, pandas_fn, _MIXED_SCHEMA, tier="pandas"))
    assert per_frame and len(per_frame) == len(pandas)
    assert batched == per_frame == default  # same order within the partition
    assert sorted(default) == sorted(pandas)
    assert repr(_BIG) in {r[1] for r in default}


def test_arrow_tier_batching_keeps_rows_order_and_types(spark):
    gs = group_sort(_mixed_input(spark), "k", order_by="v", num_partitions=1)
    arrow_fn = _mixed_fns()[2]

    def build():
        return map_stream_by_key(gs, arrow_fn, _MIXED_SCHEMA, tier="arrow")

    per_frame = _with_batch_rows(spark, 1, build)
    batched = _with_batch_rows(spark, 7, build)
    default = _typed_rows(build())
    assert per_frame and batched == per_frame == default
    # kind 0 keys keep their exact int64 values
    assert repr(_BIG + 4) in {r[1] for r in default}


class _Stub:
    """Just enough of a GroupSortedFrame for map_stream_by_key and
    take_by_key to hand back the partition function they would give
    Spark."""

    key_cols = ("k",)
    hidden_cols = ()

    def __init__(self):
        from pyspark.sql.types import LongType, StructField, StructType

        self.schema = StructType([StructField(c, LongType()) for c in ("k", "v")])
        self.df = self

    def mapInPandas(self, part, schema):
        return part

    def mapInArrow(self, part, schema):
        return part


@pytest.mark.parametrize("tier", ["stream", "arrow"])
def test_partition_function_yields_one_batch_per_input_batch(tier):
    import pyarrow as pa

    n_keys, flip_every = 1000, 250
    ks = list(range(n_keys))

    def inputs(rows_per_batch):
        frames = [pd.DataFrame({"k": ks[i:i + rows_per_batch], "v": ks[i:i + rows_per_batch]})
                  for i in range(0, n_keys, rows_per_batch)]
        if tier == "arrow":
            return [pa.RecordBatch.from_pandas(b, preserve_index=False) for b in frames]
        return frames

    def frame(k):
        # one row per key; x flips dtype every ``flip_every`` keys
        x = [k] if (k // flip_every) % 2 == 0 else [float(k)]
        return {"k": [k], "x": x}

    if tier == "stream":
        fn = lambda key, chunks: iter([pd.DataFrame(frame(key[0]))])  # noqa: E731
    else:
        fn = lambda key, rbs: iter([pa.RecordBatch.from_pydict(frame(key[0]))])  # noqa: E731

    part = map_stream_by_key(_Stub(), fn, "k bigint, x double", tier=tier)
    changes = n_keys // flip_every - 1
    out = list(part(iter(inputs(100))))
    assert sum(len(b) for b in out) == n_keys
    # one batch per input batch, plus one per change of dtype; a
    # per-key emitter would have sent n_keys batches
    assert len(out) <= n_keys // 100 + changes
    got = pd.concat([b if tier == "stream" else b.to_pandas() for b in out])
    assert got["k"].tolist() == ks
    # one input batch: one output batch per run of equal dtypes
    assert len(list(part(iter(inputs(n_keys))))) == changes + 1


def test_partition_function_sends_a_lone_frame_as_it_is():
    lone = pd.DataFrame({"k": [1] * 10, "x": range(10)})
    inputs = [pd.DataFrame({"k": [1], "v": [0]}), pd.DataFrame({"k": [2], "v": [0]})]
    outs = {1: [lone], 2: [lone.iloc[:1], lone.iloc[1:3]]}
    part = map_stream_by_key(
        _Stub(), lambda key, chunks: iter(outs[key[0]]), "k bigint, x bigint", tier="stream"
    )
    out = list(part(iter(inputs)))
    assert [len(b) for b in out] == [10, 3]
    assert out[0] is lone


@pytest.mark.parametrize("tier", ["stream", "arrow"])
def test_take_by_key_holds_at_most_two_input_chunks(tier, monkeypatch):
    """``take_by_key(n=1)`` yields a one-row view of each key's first
    chunk; the output buffer must not keep one chunk per key alive
    until it flushes."""
    import weakref

    import numpy as np
    import pyarrow as pa

    from spark_sorted_spark.operators import streaming_engine

    n_keys, run, batch = 40, 250, 100  # every key spans 3 input batches
    live: list = []

    def alive():
        # chunks of one key run can share one array
        return len({id(a) for a in (r() for r in live) if a is not None})

    if tier == "stream":
        # the chunks are split_runs' copies of each key run
        split_runs = streaming_engine.split_runs

        def tracked(pdf, key_cols):
            for sub in split_runs(pdf, key_cols):
                # the array a view of the chunk keeps alive: pandas
                # cuts the runs of one input batch from one copy
                a = sub["k"].to_numpy()
                while isinstance(a.base, np.ndarray):
                    a = a.base
                live.append(weakref.ref(a))
                yield sub

        monkeypatch.setattr(streaming_engine, "split_runs", tracked)

    ks = np.repeat(np.arange(n_keys, dtype=np.int64), run)

    def input_batch(i):
        k = ks[i:i + batch].copy()
        if tier == "stream":
            return pd.DataFrame({"k": k, "v": k})
        # the slices the tier hands on are zero-copy views of k
        live.append(weakref.ref(k))
        return pa.RecordBatch.from_arrays([pa.array(k), pa.array(k)], ["k", "v"])

    def inputs():
        for i in range(0, len(ks), batch):
            yield input_batch(i)
            peak[0] = max(peak[0], alive())

    peak = [0]
    part = take_by_key(_Stub(), 1, tier=tier)
    rows = 0
    for b in part(inputs()):
        peak[0] = max(peak[0], alive())
        rows += len(b)
        del b
    assert rows == n_keys
    assert live and peak[0] <= 2, peak[0]


def test_sessionize_stream_plans_map_in_pandas(spark, sf_dir):
    from spark_sorted_spark.queries import QUERIES

    from tests.conftest import plan_of

    plan = plan_of(QUERIES["sessionize_stream"](spark, sf_dir), "simple")
    assert "MapInPandas" in plan, plan
    assert plan.count("Exchange") == 1, plan
