"""Sequence packing: assign documents to fixed-token-budget training
packs (the GPT-style concat-and-chunk batch assembly step).

Training pipelines concatenate a deterministic document stream and
chunk it into fixed-size context windows; the packing table — which
pack(s) each document lands in — is what the data loader and any
contamination audit consume. ``pack_sequences`` computes exactly the
concat-and-chunk accounting: documents are ordered deterministically
inside each group (and optional shard), token offsets come from one
running-sum window, and a document spanning a chunk boundary reports
every pack it touches (``pack_first``..``pack_last``).

All integer arithmetic (token counts, running sums, ``div`` pack
ids) — bit-exact against the DuckDB oracle with no float tolerance.

``pack_sequences_bestfit`` is the complementary NO-SPLIT mode
(best-fit-decreasing bin packing): every document lands in exactly
one pack — SFT/eval assembly where an example must not straddle
context windows.

Scale design (100 TB corpus): a single global document order is
inherently sequential, so the window would funnel each group through
one task. ``n_shards`` subdivides every group by ``doc_id % n_shards``
BEFORE packing — each shard packs independently (its own pack-id
space), so parallelism is ``groups × shards`` and the only cost is one
partially-filled final chunk per shard. That is the standard
trade-off real loaders make (shard-local packing, shard handoff never
crosses workers).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import over_tokens, tokens

__all__ = ["pack_sequences", "pack_sequences_bestfit", "chunk_documents"]


def pack_sequences(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    n_shards: int | None = None,
) -> DataFrame:
    """Concat-and-chunk pack assignment with ``budget`` tokens per
    pack. Output per document: ``(group_col[, shard], id_col,
    n_tokens, pack_first, pack_last, n_packs)`` where a document
    occupying token offsets ``[cum - n_tokens, cum)`` of its
    group/shard stream touches packs ``(cum - n_tokens) div budget``
    through ``(cum - 1) div budget``.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    part = [group_col]
    pre = df
    if n_shards is not None:
        if n_shards <= 0:
            raise ValueError(f"n_shards must be positive, got {n_shards}")
        pre = df.withColumn("shard", F.col(id_col) % n_shards)
        part = [group_col, "shard"]
    w = (
        Window.partitionBy(*part)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        pre.withColumn("n_tokens", F.size(tokens(text_col)).cast("bigint"))
        .withColumn("cum_tok", F.sum("n_tokens").over(w))
        .withColumn("pack_first", F.expr(f"(cum_tok - n_tokens) div {budget}"))
        .withColumn("pack_last", F.expr(f"(cum_tok - 1) div {budget}"))
        .withColumn("n_packs", F.col("pack_last") - F.col("pack_first") + F.lit(1))
    )
    return out.select(
        *part, id_col, "n_tokens", "pack_first", "pack_last", "n_packs"
    )


def pack_sequences_bestfit(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    n_shards: int | None = None,
) -> DataFrame:
    """NO-SPLIT pack assignment: every document lands in exactly ONE
    pack — the SFT/eval assembly mode where an example must not
    straddle context windows (complementary to ``pack_sequences``,
    whose concat-and-chunk accounting lets documents span packs).

    Heuristic: best-fit-decreasing — documents sorted by
    ``(n_tokens desc, id asc)``, each placed in the open pack with the
    SMALLEST remaining capacity that still fits (lowest pack id on
    ties), else a new pack. Deterministic; within the classic
    11/9·OPT+1 bin-packing bound. A document longer than ``budget``
    raises (a silent overflow pack would emit training rows the
    loader truncates unpredictably — loud beats wrong).

    Scale design: bin packing is inherently sequential, so like
    ``pack_sequences`` the parallel unit is the (group[, shard]) —
    ``n_shards`` subdivides groups by ``id % n_shards`` and each
    shard packs independently in one task, ``O(n log n)`` per shard
    (capacity search via bisect). Only ``(id, n_tokens)`` pairs flow
    through Python — token counting stays Catalyst-side and the text
    never leaves the JVM.

    Output per document: ``(group_col[, shard], id_col, n_tokens,
    pack_id)``, pack ids 0-based per group/shard.
    """
    import pandas as pd

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    part = [group_col]
    pre = df.withColumn("n_tokens", F.size(tokens(text_col)).cast("bigint"))
    if n_shards is not None:
        if n_shards <= 0:
            raise ValueError(f"n_shards must be positive, got {n_shards}")
        pre = pre.withColumn("shard", F.col(id_col) % n_shards)
        part = [group_col, "shard"]
    slim = pre.select(*part, id_col, "n_tokens")
    fields = {f.name: f.dataType.simpleString() for f in slim.schema.fields}
    out_schema = ", ".join(
        [f"{c} {fields[c]}" for c in (*part, id_col, "n_tokens")]
        + ["pack_id bigint"]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        import bisect

        pdf = pdf.sort_values(
            ["n_tokens", id_col], ascending=[False, True], kind="stable"
        )
        # open packs as a sorted list of (remaining, pack_id)
        open_packs: list[tuple[int, int]] = []
        next_id = 0
        assigned = []
        for size in pdf["n_tokens"]:
            s = int(size)
            if s > budget:
                raise ValueError(
                    f"document of {s} tokens exceeds the pack budget "
                    f"{budget}; split it first (chunk_documents) or "
                    "raise the budget"
                )
            i = bisect.bisect_left(open_packs, (s, -1))
            if i < len(open_packs):
                rem, pid = open_packs.pop(i)
                rem -= s
                if rem > 0:
                    bisect.insort(open_packs, (rem, pid))
            else:
                pid = next_id
                next_id += 1
                rem = budget - s
                if rem > 0:
                    bisect.insort(open_packs, (rem, pid))
            assigned.append(pid)
        pdf = pdf.copy()
        pdf["pack_id"] = assigned
        return pdf

    return slim.groupBy(*part).applyInPandas(pack, out_schema)


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split every document into fixed-size token windows — the
    context-window chunking step before embedding or training on long
    documents. Chunk ``i`` covers tokens ``[i * stride, i * stride +
    chunk_tokens)`` with ``stride = chunk_tokens - overlap``; the
    final chunk may be short; a document shorter than one chunk
    yields exactly one chunk (itself). An empty document yields one
    empty chunk with ``n_chunk_tokens = 1`` — the ``tokens()``
    contract corpus-wide (``split(trim(''))`` is ``['']``, exactly
    as ``text_stats`` counts it and DuckDB's ``string_split_regex``
    reproduces it), and it keeps every doc_id present in the output.

    Output: ``(id_col, chunk_idx, chunk_text, n_chunk_tokens)``,
    ``chunk_idx`` 0-based. Pure Catalyst (tokenize once per row ->
    sequence -> explode -> slice -> concat_ws): a flat map at scan
    speed, no shuffle at all. Deterministic and engine-portable (DuckDB list
    slicing reproduces chunks byte-for-byte on whitespace-clean
    text; reconstruction loses only the original whitespace runs,
    the same contract whitespace tokenization always has).
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    if overlap < 0 or overlap >= chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}"
        )
    stride = chunk_tokens - overlap

    def chunks(toks: Column) -> Column:
        n = F.size(toks)
        # chunk count: 1 + ceil((n - chunk_tokens) / stride) for n > chunk,
        # else 1 — as integer arithmetic: 1 + max(0, ceildiv) via div
        extra = F.greatest(
            F.lit(0),
            ((n - F.lit(chunk_tokens)) + F.lit(stride - 1)).cast("bigint")
            / F.lit(stride),
        ).cast("bigint")
        n_chunks = (F.lit(1) + F.floor(extra)).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.slice(toks, i * stride + 1, chunk_tokens),
        )

    return df.select(
        F.col(id_col),
        F.posexplode(over_tokens(text_col, chunks)).alias("chunk_idx", "__chunk"),
    ).select(
        id_col,
        F.col("chunk_idx").cast("bigint"),
        F.concat_ws(" ", "__chunk").alias("chunk_text"),
        F.size("__chunk").cast("bigint").alias("n_chunk_tokens"),
    )
