"""Lexical retrieval: BM25 ranking over a document corpus.

The lexical complement to the embedding ANN surface
(``functions/similarity.py``): the classic sparse-retrieval scorer
(Robertson & Zaragoza 2009, "The Probabilistic Relevance Framework:
BM25 and Beyond") as relational jobs — no inverted-index service, the
index IS the relational algebra:

    score(d, q) = sum_t idf(t) * tf(t,d) * (k1 + 1)
                  / (tf(t,d) + k1 * (1 - b + b * dl(d) / avgdl))
    idf(t)      = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))

Every public ranker is a thin wrapper over ONE core, :func:`_bm25`:

* two postings sources, both yielding ``(tf relation, n_docs, sum_dl,
  df rows)`` for a driver-side vocabulary — the corpus scan
  (:func:`_scan_postings`: the exploded token stream is FILTERED to
  the literal query vocabulary inside the scan stage, so postings are
  built for the query terms only, never for the corpus vocabulary) and
  the persisted index (:func:`_index_postings`: bucket-pruned postings
  read, summed ``_bm25_stats`` rows, merged ``dft`` deltas);
* one scorer holding the single contribution expression, the optional
  per-term weight multiply and the strict term-ordered fold, finished
  as ``ORDER BY score DESC LIMIT k`` for one query string (Catalyst
  plans TakeOrderedAndProject: per-partition top-k + a k-row merge,
  never a global sort) or as a per-query rank window for a batch;
* one feedback step, :func:`_expand`, behind every PRF/RM3 form, fed
  by either source's feedback-document postings;
* one Reciprocal Rank Fusion, :func:`_rrf_fuse`, behind every hybrid
  form.

Float discipline: idf's ``ln`` runs driver-side through ``math.log``
on the |terms|-row df table (the oracle's libm, bitwise — JVM
``F.log`` rounds differently on ~4.4% of arguments; see
``LIBM_FINGERPRINT.json``); every per-(doc, term) operation is a
fixed-shape IEEE double expression over EXACT integers (tf, dl, df,
N — avgdl enters as the exact integer pair sum_dl/N, divided inside
the expression); and the per-document sum folds contributions in
STRICT ascending-term order (array_sort + F.aggregate) — so the
DuckDB oracle replays the floats bit-for-bit, same as the cosine and
ln folds elsewhere in the repo.
"""

from __future__ import annotations

import hashlib
import math
import re as _re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources.manifest import (
    _carry,
    batch_dir,
    resolve_root,
    staged_store,
    store_layout,
)
from .local_rows import local_rows_df as _local_rows_df
from .text import md5_int32, tokens

# Driver-side bitwise twin of text.tokens() (= F.split(F.trim(c),
# r"\s+")): Spark's trim strips 0x20 only, and Java's \s is the ASCII
# class [ \t\n\x0B\f\r] (no unicode spaces) with limit=-1 keeping
# leading/trailing empty strings — Python's str.split() differs on all
# three, so query terms are enumerated through THIS to match the
# corpus explode exactly (pinned against the relational form in
# tests/test_retrieval.py).
_JAVA_WS_RE = _re.compile(r"[ \t\n\x0B\f\r]+")


def _tokens_py(text: str) -> list[str]:
    return _JAVA_WS_RE.split(text.strip(" "))


def _query_terms(text: str) -> list[str]:
    """The one query-term rule of every ranker: the corpus tokenizer's
    driver twin minus the empty token, deduplicated (a repeated query
    term counts once, the standard short-query form) and sorted."""
    return sorted(set(_tokens_py(text)) - {""})


__all__ = [
    "rerank_overlap",
    "rerank_cross_encoder",
    "bm25_topk",
    "bm25_topk_prf",
    "bm25_topk_rm3",
    "rm3_expand",
    "expand_query_prf",
    "bm25_join",
    "bm25_join_prf",
    "bm25_join_rm3",
    "hybrid_topk",
    "hybrid_topk_indexed",
    "hybrid_join",
    "hybrid_join_indexed",
    "build_bm25_index",
    "append_to_bm25_index",
    "compact_bm25_index",
    "bm25_index_stats",
    "bm25_topk_indexed",
    "bm25_join_indexed",
    "bm25_topk_prf_indexed",
    "bm25_topk_rm3_indexed",
    "bm25_join_prf_indexed",
    "bm25_join_rm3_indexed",
    "retrieval_metrics",
    "retrieval_metrics_summary",
]


# ---------------------------------------------------------------------------
# the ranker core: postings sources, scorer, feedback
# ---------------------------------------------------------------------------


def _corpus_stats(docs: DataFrame, text_col: str) -> DataFrame:
    """The one corpus-stats aggregate, ``(n_docs, sum_dl)`` over the
    tokenized text: scan rankers collect its single row, index builds
    and appends persist it as their ``_bm25_stats`` row."""
    return docs.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(text_col))).alias("sum_dl"),
    )


def _tokenized(docs: DataFrame, text_col: str, *cols: str) -> DataFrame:
    """``cols`` plus ``__toks``, the token array as a real column: the
    document length and the explode both read it, and a projection
    above does not re-inline an expression it reads twice, so the text
    is split once per document (inline, the explode's node and the
    length's node would each split it)."""
    return docs.select(*cols, tokens(text_col).alias("__toks"))


def _postings(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    vocab: list | None = None,
    extra_cols=(),
) -> DataFrame:
    """``(id, tok, tf, dl, *extra_cols)`` postings: one explode per
    document grouped per (doc, term) — the relation the index stores
    and the scan rankers score. ``vocab`` filters the exploded stream
    against a driver-side literal in the SAME codegen stage (no
    vocabulary relation, no join, no distinct exchange)."""
    occ = _tokenized(docs, text_col, id_col, *extra_cols).select(
        F.col(id_col),
        F.size("__toks").alias("dl"),
        F.explode("__toks").alias("tok"),
        *[F.col(c) for c in extra_cols],
    )
    if vocab is not None:
        occ = occ.filter(F.col("tok").isin(vocab))
    return occ.groupBy(id_col, "tok").agg(
        F.count(F.lit(1)).alias("tf"),
        F.first("dl").alias("dl"),
        *[F.first(c).alias(c) for c in extra_cols],
    )


def _stats_and_df(docs: DataFrame, text_col: str, vocab: list) -> DataFrame:
    """``(tok, n, sum_dl)``: the corpus statistics and the vocabulary's
    document frequencies in ONE aggregate (one shuffle, so one map
    stage and one result stage). The NULL-``tok`` row is ``(n_docs,
    sum_dl)`` over every row of ``docs``; each other row is a
    vocabulary term with ``n`` = its df. A document counts a term once
    (its distinct tokens), as the per-(id, term) postings do when ids
    are unique."""
    present = F.coalesce(
        F.array_distinct("__toks"), F.array().cast("array<string>")
    )
    return (
        _tokenized(docs, text_col)
        .select(
            F.size("__toks").alias("dl"),
            F.explode(
                F.concat(F.array(F.lit(None).cast("string")), present)
            ).alias("tok"),
        )
        .filter(F.col("tok").isNull() | F.col("tok").isin(vocab))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl"))
    )


def _scan_postings(docs, text_col, id_col, stats=None, where=None, spread=False):
    """Corpus-scan postings source: ``vocab -> (tf, n_docs, sum_dl,
    df_rows)``, plus ``.feedback(ids)``, the (id, tok, tf) postings of
    feedback documents. Each call runs one collect,
    :func:`_stats_and_df`, for its vocabulary's df; the corpus stats of
    the first call are kept, so both passes of a feedback ranker share
    them. ``stats=(n_docs, sum_dl)`` replaces them (exact integers, so
    a matching pair is bitwise-neutral). ``where`` restricts
    CANDIDATES only: df is counted on the unfiltered corpus, so
    idf/avgdl stay corpus-wide (the standard filtered-search contract,
    and the index's ``where`` contract). ``spread`` scores postings
    built over :func:`~.dedup.spread_small_input` of ``docs``; the
    collect reads ``docs`` as they are, so it adds no job."""
    from .dedup import spread_small_input
    from .similarity import _apply_where

    if stats is not None:
        n_docs, sum_dl = int(stats[0]), int(stats[1])
        if n_docs <= 0 or sum_dl < 0:
            raise ValueError(f"invalid precomputed stats {stats!r}")
    cache = [] if stats is None else [(n_docs, sum_dl)]

    def source(vocab):
        # bounded-collect: |vocab| df rows plus the stats row
        rows = _stats_and_df(docs, text_col, vocab).collect()
        if not cache:
            st = next((r for r in rows if r.tok is None), None)
            # n_docs first — on an empty corpus sum_dl is NULL
            if st is None:
                raise ValueError("corpus is empty")
            cache.append((int(st.n), int(st.sum_dl)))
        dfrows = [(r.tok, r.n) for r in rows if r.tok is not None]
        tf = _postings(
            spread_small_input(docs) if spread else docs, text_col, id_col, vocab
        )
        if where is not None:
            tf = tf.join(
                _apply_where(docs, where).select(id_col), id_col, "left_semi"
            )
        return (tf, *cache[0], dfrows)

    source.feedback = lambda ids: _postings(
        docs.filter(F.col(id_col).isin(ids)), text_col, id_col
    )
    return source


def _bucket(term: str, n_buckets: int) -> int:
    """Driver twin of the build's ``pmod(md5_int32(tok), n_buckets)``."""
    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % n_buckets


def _index_postings(spark, path, id_col, before_batch=None, where=None):
    """Persisted-index postings source (same contract as
    :func:`_scan_postings`), never touching corpus text: the one-row
    ``_bm25_meta`` and the summed per-batch ``_bm25_stats`` rows are
    read once per source; each vocabulary reads only its terms'
    ``tok_bucket`` directories (planning-time partition pruning) of
    the postings and of the ``dft`` store, whose per-append deltas are
    summed for these terms only. ``where`` evaluates inside the pruned
    postings scan (over the index's stored ``extra_cols``); df comes
    from the ``dft`` store, so statistics stay corpus-wide.
    ``before_batch`` fences every read to the pre-append state.
    ``.feedback(ids)`` reads feedback documents' postings: not
    bucket-pruned (a document's terms span all buckets — the
    inverted-index-without-forward-index trade), id filter pushed to
    parquet."""
    from .similarity import _apply_where, _before_batch

    cache = []

    def meta():
        if not cache:
            root = resolve_root(spark, path)
            # bounded-collect: one parameter row from the index metadata
            n_buckets = int(
                spark.read.parquet(f"{root}/_bm25_meta").collect()[0][0]
            )
            stats = _before_batch(
                spark.read.parquet(f"{root}/_bm25_stats"), before_batch
            )
            # bounded-collect: the summed corpus scalars (one row per
            # batch partition pre-sum — batch count, not corpus, sized)
            st = stats.agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("sum_dl").alias("sum_dl"),
            ).collect()[0]
            if st.n_docs is None:
                raise ValueError(f"index at {root!r} holds no stats rows")
            cache.append((root, n_buckets, int(st.n_docs), int(st.sum_dl)))
        return cache[0]

    def source(vocab):
        root, n_buckets, n_docs, sum_dl = meta()
        buckets = sorted({_bucket(t, n_buckets) for t in vocab})

        def read(table):
            return _before_batch(
                spark.read.parquet(f"{root}/{table}")
                .filter(F.col("tok_bucket").isin(buckets))
                .filter(F.col("tok").isin(vocab)),
                before_batch,
            )

        # bounded-collect: |vocab| merged df rows
        dfrows = read("dft").groupBy("tok").agg(F.sum("df")).collect()
        return _apply_where(read("postings"), where), n_docs, sum_dl, dfrows

    source.feedback = lambda ids: _before_batch(
        spark.read.parquet(f"{meta()[0]}/postings"), before_batch
    ).filter(F.col(id_col).isin(ids))
    return source


def _idf_literal(spark, df_rows, n_docs: int) -> DataFrame:
    """(tok, idf) literal relation from driver-side ``(term, df)``
    rows: ``idf = ln(1 + (N - df + 0.5) / (df + 0.5))`` through
    Python's ``math.log`` — the glibc libm call the oracle makes, on an
    argument computed in IEEE-754 doubles in the oracle's operation
    order (``+ - /`` are exactly specified and ``df < 2^53`` casts
    exactly), so every idf is bitwise the oracle's. The df table is
    |terms|-row, so the ln costs nothing driver-side and needs no
    Python-worker node."""
    n = float(n_docs)
    rows = [
        (t, math.log(1.0 + (((n - float(df)) + 0.5) / (float(df) + 0.5))))
        for t, df in df_rows
    ]
    return _local_rows_df(spark, rows, "tok string, __idf double")


def _bm25(source, qrows, k, k1, b, id_col, query_id_col=None, qid_type=None):
    """THE BM25 ranker. ``qrows`` are driver-side ``(query_key, term,
    weight)`` rows — weight ``None`` for unweighted terms; one query
    string passes ``query_id_col=None`` (its keys are ignored) and gets
    the ``ORDER BY score DESC, id LIMIT k`` finish, which Catalyst
    plans as TakeOrderedAndProject, returning ``(id, score,
    n_terms_matched)``; a batch gets each query's top ``k`` by a rank
    window over the query partitioning (per-partition state is one
    query's candidates, spilled by WindowExec if a query matches half
    the corpus), returning ``(query_id, id, score, n_terms_matched,
    rank)``. Only documents matching at least one term can score; the
    id is the deterministic tiebreak.

    Eager, snapshot-idf contract, shared by every public ranker:
    construction runs ``source``'s corpus-stats and df collects
    (|vocabulary|-row bounded), and the returned DataFrame carries idf
    and avgdl as literals fixed as of construction. Executing it later
    re-reads the postings but keeps those statistics; build a new
    ranker to see a changed corpus or index.

    A weighted term contributes ``w * (idf * saturation)`` — the weight
    multiplies the WHOLE contribution once, so unweighted scores are
    untouched by the weighted path and every weighted form (single or
    batch, scan or index) is operand-for-operand the same."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not (k1 > 0 and 0.0 <= b <= 1.0):
        raise ValueError(f"need k1 > 0 and 0 <= b <= 1, got k1={k1} b={b}")
    vocab = sorted({t for _, t, _ in qrows})
    if not vocab:
        raise ValueError(
            "query has no terms" if query_id_col is None
            else "query batch has no terms"
        )
    tf, n_docs, sum_dl, dfrows = source(vocab)
    spark = tf.sparkSession
    weighted = qrows[0][2] is not None
    keys = [id_col] if query_id_col is None else [query_id_col, id_col]
    contrib = tf.join(F.broadcast(_idf_literal(spark, dfrows, n_docs)), "tok")
    if query_id_col is not None or weighted:
        # the (query, term[, weight]) table: workload-bounded, joined
        # back as an explicit broadcast
        fields = [StructField("tok", StringType())]
        if query_id_col is not None:
            fields.insert(0, StructField(query_id_col, qid_type))
        if weighted:
            fields.append(StructField("__w", DoubleType()))
        rows = [
            ((q,) if query_id_col is not None else ())
            + (t,)
            + ((w,) if weighted else ())
            for q, t, w in qrows
        ]
        contrib = contrib.join(
            F.broadcast(_local_rows_df(spark, rows, StructType(fields))), "tok"
        )
    c = (
        F.col("__idf")
        * (F.col("tf") * F.lit(float(k1) + 1.0))
        / (
            F.col("tf")
            + F.lit(float(k1))
            * (
                F.lit(1.0 - float(b))
                + F.lit(float(b))
                * F.col("dl")
                / (F.lit(float(sum_dl)) / F.lit(float(n_docs)))
            )
        )
    )
    if weighted:
        c = F.col("__w") * c
    scored = (
        contrib.select(*keys, "tok", c.alias("__c"))
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.array_sort(F.collect_list(F.struct("tok", "__c"))).alias("__cs"),
        )
        .select(
            *keys,
            F.aggregate(
                F.col("__cs"), F.lit(0.0), lambda acc, s: acc + s["__c"]
            ).alias("score"),
            "n_terms_matched",
        )
    )
    order = [F.col("score").desc(), F.col(id_col).asc()]
    if query_id_col is None:
        return scored.orderBy(*order).limit(int(k))
    w = Window.partitionBy(query_id_col).orderBy(*order)
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= k)


def _single_rows(query: str, weights: dict | None) -> list:
    """Core rows of one query string, or of a ``{term: w}`` weighted
    query (the term set is then the weight keys)."""
    weights = dict(weights) if weights else None
    if weights is None:
        return [(None, t, None) for t in _query_terms(query)]
    # not (w > 0) instead of w <= 0: NaN compares False BOTH ways, so
    # the naive form would let a NaN weight poison every contribution
    if any(not (w > 0) for w in weights.values()):
        raise ValueError("weights must be positive")
    return [(None, t, float(w)) for t, w in sorted(weights.items())]


def _collect_query_texts(queries, query_id_col, query_text_col, strict=True):
    """The batch front door: collect ``(query_id, text)`` and map each
    id to its sorted query terms. ``strict`` (the feedback forms,
    whose contract is "identical to looping the single form") rejects
    an empty batch, duplicate ids and term-less texts loudly; the
    plain batch rankers merge duplicate ids' terms and skip NULL
    texts."""
    # bounded-collect: the query batch texts — the retrieval workload
    qrows = queries.select(F.col(query_id_col), F.col(query_text_col)).collect()
    if strict:
        if not qrows:
            raise ValueError("query batch is empty")
        if len({r[0] for r in qrows}) != len(qrows):
            raise ValueError("duplicate query ids in the batch")
    out: dict = {}
    for q, text in qrows:
        terms = _query_terms(text) if text is not None else []
        if strict and not terms:
            raise ValueError(f"query {q!r} has no terms")
        out.setdefault(q, set()).update(terms)
    return {q: sorted(ts) for q, ts in out.items()}


def _batch_rows(queries, weights, query_id_col, query_text_col):
    """Core rows (and the query-id type) of a batch: the query texts,
    or — for weighted batch BM25 — the ``(query_id_col, term, weight)``
    relation, validated driver-side on the collected workload."""
    if weights is None:
        texts = _collect_query_texts(
            queries, query_id_col, query_text_col, strict=False
        )
        rows = [(q, t, None) for q, ts in texts.items() for t in ts]
        return rows, queries.schema[query_id_col].dataType
    wsel = weights.select(
        F.col(query_id_col), F.col("term"), F.col("weight").cast("double")
    )
    # bounded-collect: |Q| x terms weight rows — the weighted workload
    rows = [(r[0], r[1], r[2]) for r in wsel.collect()]
    if not rows:
        raise ValueError("weights relation is empty")
    if any(w is None or not (w > 0) for _, _, w in rows):
        raise ValueError("weights must be positive")
    # NULL-containing pairs never count as distinct, so a null query id
    # or term trips the duplicate check too
    pairs = {(q, t) for q, t, _ in rows if q is not None and t is not None}
    if len(pairs) != len(rows):
        raise ValueError("duplicate (query, term) rows in weights")
    return rows, weights.schema[query_id_col].dataType


def _expand(orig, fb_counts, fb_terms, lam, key_col, key_type):
    """The one feedback step. ``orig`` maps each query key to its
    sorted terms; ``fb_counts`` is the ``(key, tok, __n)`` occurrence
    count of each query's feedback documents (``None`` when pass one
    retrieved nothing). Each query keeps the ``fb_terms`` most
    frequent tokens outside its own terms (count DESC, token ASC —
    exact integers, a window per query) plus its own terms' counts.

    ``lam=None`` is binary PRF: the expanded term list. Otherwise RM3
    (Abdul-Jaleel et al., TREC 2004) ``{term: weight}``: the feedback
    mass is truncated to the kept vocabulary, renormalized over it and
    mixed with the query's uniform model,

        w(t) = lam * 1[t in q]/|q|  +  (1-lam) * count_fb(t)/total_kept

    where ``total_kept`` sums the KEPT counts only, so the feedback
    component always carries its full (1-lam) mass whatever the
    feedback documents' length. Every weight is a Python float built
    from exact integer counts by the +*/ sequence a SQL replay
    performs."""
    kept: dict = {q: {} for q in orig}
    if fb_counts is not None:
        orig_df = _local_rows_df(
            fb_counts.sparkSession,
            [(q, t) for q, ts in orig.items() for t in ts],
            StructType(
                [StructField(key_col, key_type), StructField("tok", StringType())]
            ),
        )
        w = Window.partitionBy(key_col).orderBy(
            F.col("__n").desc(), F.col("tok").asc()
        )
        top = (
            fb_counts.join(F.broadcast(orig_df), [key_col, "tok"], "left_anti")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= int(fb_terms))
            .select(key_col, "tok", "__n")
        )
        own = fb_counts.join(F.broadcast(orig_df), [key_col, "tok"], "left_semi")
        # bounded-collect: <= |Q| x (fb_terms + |q|) kept-count rows
        for r in top.unionByName(own).collect():
            kept[r[0]][r[1]] = int(r[2])
    out: dict = {}
    for q, ts in orig.items():
        counts = kept[q]
        if lam is None:
            out[q] = sorted(set(ts) | set(counts))
            continue
        own_terms, nq = set(ts), len(ts)
        total_kept = sum(counts.values())
        weights = {}
        for t in sorted(own_terms | set(counts)):
            w_orig = lam * (1.0 / nq) if t in own_terms else 0.0
            w_fb = (
                (1.0 - lam) * (counts.get(t, 0) / total_kept)
                if total_kept
                else 0.0
            )
            if w_orig + w_fb > 0:
                weights[t] = w_orig + w_fb
        out[q] = weights
    return out


def _feedback(
    source, orig, fb_docs, fb_terms, lam, k1, b, id_col,
    query_id_col=None, qid_type=None,
):
    """Pass one of every PRF/RM3 form: rank ``orig`` (``{key:
    terms}``; one key for a single query string) for its top
    ``fb_docs`` documents, count their tokens from ``source``'s
    feedback postings (``tf`` summed per query and token — exact
    integers, equal to the explode-and-count of the text), and
    :func:`_expand`. Driver traffic is workload-bounded: |Q| x fb_docs
    feedback pairs and |Q| x (fb_terms + |q|) kept counts."""
    if fb_docs < 1:
        raise ValueError(f"fb_docs must be >= 1, got {fb_docs}")
    if fb_terms < 1:
        raise ValueError(f"fb_terms must be >= 1, got {fb_terms}")
    if lam is not None and not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    qrows = [(q, t, None) for q, ts in orig.items() for t in ts]
    first = _bm25(source, qrows, fb_docs, k1, b, id_col, query_id_col, qid_type)
    if query_id_col is None:
        key_col, key_type, (key,) = "__q", LongType(), orig
        # bounded-collect: fb_docs ids (pass one's TakeOrdered output)
        pairs = [(key, r[0]) for r in first.select(id_col).collect()]
    else:
        key_col, key_type = query_id_col, qid_type
        # bounded-collect: |Q| x fb_docs feedback pairs (rank window)
        pairs = [tuple(r) for r in first.select(query_id_col, id_col).collect()]
    fb_counts = None
    if pairs:
        posts = source.feedback(sorted({p[1] for p in pairs}))
        pair_df = _local_rows_df(
            posts.sparkSession,
            pairs,
            StructType(
                [
                    StructField(key_col, key_type),
                    StructField(id_col, posts.schema[id_col].dataType),
                ]
            ),
        )
        fb_counts = (
            posts.select(id_col, "tok", "tf")
            .join(F.broadcast(pair_df), id_col)
            .groupBy(key_col, "tok")
            .agg(F.sum("tf").cast("bigint").alias("__n"))
        )
    return _expand(orig, fb_counts, fb_terms, lam, key_col, key_type)


def _two_pass(
    source, orig, k, fb_docs, fb_terms, lam, k1, b, id_col,
    query_id_col=None, qid_type=None,
):
    """Feedback ranking: :func:`_feedback`, then rank the expanded
    (``lam=None``) or RM3-weighted terms with the same source, so both
    passes share its corpus statistics."""
    exp = _feedback(
        source, orig, fb_docs, fb_terms, lam, k1, b, id_col,
        query_id_col, qid_type,
    )
    rows = [
        (q, t, None if lam is None else e[t]) for q, e in exp.items() for t in e
    ]
    # RM3 at lam=0 leaves no weights for a query whose pass one found
    # nothing; its unweighted terms then match nothing either
    rows = rows or [(q, t, None) for q, ts in orig.items() for t in ts]
    return _bm25(source, rows, k, k1, b, id_col, query_id_col, qid_type)


# ---------------------------------------------------------------------------
# scan-form rankers
# ---------------------------------------------------------------------------


def bm25_topk(
    df: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    stats: tuple | None = None,
    where=None,
    weights: dict | None = None,
) -> DataFrame:
    """Top-``k`` documents by BM25 score for ``query`` (terms by the
    corpus-wide ``tokens`` rule; duplicate query terms count once, the
    standard short-query form). Only documents matching at least one
    term can score — the returned relation is ``(id, score,
    n_terms_matched)``, score-descending with the id as the
    deterministic tiebreak. Eager, snapshot-idf: see :func:`_bm25`.

    ``stats=(n_docs, sum_dl)`` lets pipeline callers who already
    scanned the corpus skip the stats scan this definitional form
    otherwise pays (the values are exact integers, so a caller-
    supplied pair that matches the derived one is bitwise-neutral —
    pinned in tests); the persisted-index probes amortize it for
    everyone else.

    ``where`` (SQL string or Column over ``docs``'s metadata columns)
    is FILTERED retrieval: only qualifying documents can appear in
    the top-k, while idf/avgdl stay CORPUS-WIDE (the standard
    filtered-search contract — the filter restricts candidates, not
    the collection statistics; this is what makes the indexed twin's
    ``where`` bitwise-pinnable against this form).

    ``weights`` (``{term: w}``) is WEIGHTED-QUERY BM25: each term's
    contribution is scaled by its weight before the per-document fold
    (term boosting / RM3 expansion weights — see :func:`rm3_expand`).
    When given, the term set is the weight keys and ``query`` is
    ignored for term extraction. Weights enter as exact literals and
    multiply each contribution once, so the scoring stays
    oracle-replayable."""
    return _bm25(
        _scan_postings(df, text_col, id_col, stats, where),
        _single_rows(query, weights), k, k1, b, id_col,
    )


def expand_query_prf(
    docs: DataFrame,
    query: str,
    fb_docs: int = 3,
    fb_terms: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    where=None,
    stats: tuple | None = None,
) -> str:
    """Pseudo-relevance-feedback query expansion (the Rocchio/RM3
    family, binary term weights): run BM25 once, take the top
    ``fb_docs`` documents as pseudo-relevant, add the ``fb_terms``
    most frequent tokens of that feedback set (total occurrence count
    desc, token asc — deterministic, exact integers) that are not
    already query terms, and return the expanded query string
    (sorted unique terms — the set form every ``bm25_*`` entry point
    consumes). Recall tool, precision trade: expansion terms carry
    the same unit weight as originals (the binary simplification of
    RM3's weighted variant, documented trade).

    Scale shape: pass one is :func:`bm25_topk` (scale-safe top-k);
    the feedback ids are a bounded workload-sized collect; the term
    count reads the ``fb_docs`` documents ONLY (id-pruned scan).
    ``where`` scopes pass one AND therefore the feedback docs
    (filtered retrieval's contract carries through)."""
    exp = _feedback(
        _scan_postings(docs, text_col, id_col, stats, where),
        {0: _query_terms(query)}, fb_docs, fb_terms, None, k1, b, id_col,
    )
    return " ".join(exp[0])


def rm3_expand(
    docs: DataFrame,
    query: str,
    fb_docs: int = 3,
    fb_terms: int = 5,
    lam: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    where=None,
    stats: tuple | None = None,
) -> dict:
    """RM3 query expansion with WEIGHTS (Abdul-Jaleel et al., TREC
    2004 — the weighted upgrade of :func:`expand_query_prf`'s binary
    form; the weight formula is :func:`_expand`'s): the relevance
    model's term mass is estimated from the top-``fb_docs`` feedback
    set, TRUNCATED to the kept vocabulary (the original terms plus the
    ``fb_terms`` most frequent non-query feedback tokens), renormalized
    over it, and mixed with the original query's uniform model.
    Returns ``{term: weight}`` for :func:`bm25_topk(weights=...)`,
    oracle-replayable. Same bounded-collect shape as the binary
    form."""
    exp = _feedback(
        _scan_postings(docs, text_col, id_col, stats, where),
        {0: _query_terms(query)}, fb_docs, fb_terms, lam, k1, b, id_col,
    )
    return exp[0]


def bm25_topk_rm3(
    docs: DataFrame,
    query: str,
    k: int = 10,
    fb_docs: int = 3,
    fb_terms: int = 5,
    lam: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    where=None,
) -> DataFrame:
    """Two-pass WEIGHTED relevance feedback: :func:`rm3_expand` then
    weighted-query :func:`bm25_topk` — the full RM3 composition
    (weights are exact-integer-derived literals, pinned against a
    DuckDB replay of both passes in tests). The corpus stats scan
    runs ONCE and serves both passes."""
    return _two_pass(
        _scan_postings(docs, text_col, id_col, where=where),
        {0: _query_terms(query)}, k, fb_docs, fb_terms, lam, k1, b, id_col,
    )


def bm25_topk_prf(
    docs: DataFrame,
    query: str,
    k: int = 10,
    fb_docs: int = 3,
    fb_terms: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    where=None,
) -> DataFrame:
    """Two-pass BM25 with pseudo-relevance feedback: expand as
    :func:`expand_query_prf`, then score the expanded query with the
    ordinary :func:`bm25_topk` (the expansion layer is all
    exact-integer selection, so the whole composition stays
    oracle-replayable; pinned against a DuckDB replay in tests). The
    corpus stats scan runs ONCE and serves both passes."""
    return _two_pass(
        _scan_postings(docs, text_col, id_col, where=where),
        {0: _query_terms(query)}, k, fb_docs, fb_terms, None, k1, b, id_col,
    )


def bm25_join(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_text_col: str = "text",
    query_id_col: str = "query_id",
    stats: tuple | None = None,
    where=None,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Batch BM25 retrieval — the R-S form of :func:`bm25_topk`: score
    EVERY query of ``queries`` against ``docs`` in one relational job
    and keep each query's top ``k`` (the shape of RAG candidate
    generation, lexical decontamination sweeps, and eval-set retrieval
    at corpus scale, where looping ``bm25_topk`` would re-scan the
    corpus per query). Per-query output equals ``bm25_topk`` on that
    query's text (same term rule, same statistics — pinned).

    Returns ``(query_id, id, score, n_terms_matched, rank)`` with
    rank 1..k per query (score DESC, id tiebreak). Eager,
    snapshot-idf: see :func:`_bm25`.

    Scale shape: the query batch is collected driver-side (bounded —
    the retrieval WORKLOAD, the same contract as
    :func:`bm25_join_indexed`, whose probe must enumerate it anyway)
    and the corpus explode is filtered against the literal batch
    vocabulary INSIDE the scan stage — the corpus is scanned once
    regardless of |queries|, with no vocabulary relation, no join and
    no distinct exchanges. A million-term query batch is the point
    where chunk-and-union (per-query independence makes it
    semantics-free) beats one literal IN-set. ``stats`` and ``where``
    are :func:`bm25_topk`'s.

    ``weights`` is WEIGHTED-QUERY batch BM25 — the R-S twin of
    :func:`bm25_topk(weights=...)`: a relation with columns
    ``(query_id_col, term, weight)`` giving each query its own
    weighted term set (per-query boosting / RM3 expansion weights,
    see :func:`bm25_join_rm3`). When given, ``queries``' text column
    is ignored for term extraction; per-query output equals looping
    ``bm25_topk(weights=w_q)`` bitwise (pinned). The relation is
    workload-bounded (|Q| x terms); weights must be positive and
    (query, term) pairs unique — validated driver-side on the
    collected workload."""
    qrows, qid_type = _batch_rows(queries, weights, query_id_col, query_text_col)
    # a small parquet corpus arrives as ONE scan partition, which
    # would serialize the tokenize+explode onto a single core: spread
    # the postings (a no-op at corpus scale where splits >= cores)
    return _bm25(
        _scan_postings(docs, text_col, id_col, stats, where, spread=True),
        qrows, k, k1, b, id_col, query_id_col, qid_type,
    )


def bm25_join_prf(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    fb_docs: int = 3,
    fb_terms: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_text_col: str = "text",
    query_id_col: str = "query_id",
    where=None,
) -> DataFrame:
    """Batch PRF retrieval — the R-S form of :func:`bm25_topk_prf`:
    expand EVERY query of the batch from its own top-``fb_docs``
    feedback documents, then rescore the expanded batch, with each
    corpus pass shared across the whole batch (pass one is ONE batch
    ranking; the feedback term counts are one scan of the union of
    all queries' feedback docs, grouped per query; pass two is one
    batch ranking of the expanded terms). Per-query output is
    IDENTICAL to looping :func:`bm25_topk_prf` (pinned).

    Driver traffic is workload-bounded only: the query texts, the
    |Q| x fb_docs feedback pairs, and the |Q| x (fb_terms + |q|)
    kept terms. Millions of queries should chunk the batch (outputs
    are per-query independent, so chunk-and-union is
    semantics-free)."""
    orig = _collect_query_texts(queries, query_id_col, query_text_col)
    return _two_pass(
        _scan_postings(docs, text_col, id_col, where=where, spread=True),
        orig, k, fb_docs, fb_terms, None, k1, b, id_col,
        query_id_col, queries.schema[query_id_col].dataType,
    )


def bm25_join_rm3(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    fb_docs: int = 3,
    fb_terms: int = 5,
    lam: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_text_col: str = "text",
    query_id_col: str = "query_id",
    where=None,
) -> DataFrame:
    """Batch RM3 retrieval — the R-S form of :func:`bm25_topk_rm3`:
    every query's relevance-model weights are estimated from its OWN
    top-``fb_docs`` feedback set (the :func:`bm25_join_prf` pass
    structure), then the whole weighted batch rescores in one weighted
    batch ranking. Per-query output is IDENTICAL to looping
    :func:`bm25_topk_rm3` (pinned). Same driver traffic and |Q|
    ceiling as :func:`bm25_join_prf`."""
    orig = _collect_query_texts(queries, query_id_col, query_text_col)
    return _two_pass(
        _scan_postings(docs, text_col, id_col, where=where, spread=True),
        orig, k, fb_docs, fb_terms, lam, k1, b, id_col,
        query_id_col, queries.schema[query_id_col].dataType,
    )


# ---------------------------------------------------------------------------
# second-stage rerankers
# ---------------------------------------------------------------------------


def rerank_overlap(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    text_col: str = "text",
    query_text_col: str = "text",
    rank_col: str = "rank",
) -> DataFrame:
    """Second-stage reranker over a first-stage candidate set — the
    retrieve-then-rerank serving pattern: ``candidates`` is any
    retriever's ``(query_id, id, ..., rank)`` output (BM25, hybrid,
    ANN — shape is all that matters), and this stage re-scores ONLY
    those |Q| x n_candidates pairs by distinct-token overlap
    ``|q_tokens ∩ d_tokens| / |q_tokens|``, returning
    ``(query_id, id, n_common, overlap, rank)`` with rank 1..k per
    query by (n_common DESC, first-stage rank ASC, id ASC) — the
    first-stage rank as tiebreak keeps the rerank a refinement, never
    a coin flip. Native Catalyst end to end (array_distinct /
    array_intersect), so the whole two-stage pipeline is
    SQL-replayable; the model-scored variant with identical plumbing
    is :func:`rerank_cross_encoder`.

    Scale shape: the expensive relation (corpus text) is touched ONLY
    for candidate ids — the broadcast candidate set joins into the
    corpus scan, so stage-two cost is |Q| x n_candidates regardless
    of corpus size; that asymmetry is the entire point of two-stage
    retrieval."""
    from pyspark.sql import Window

    from .text import tokens

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cand = candidates.select(
        F.col(query_id_col),
        F.col(id_col),
        F.col(rank_col).alias("__rank1"),
    )
    # NULL text coalesces to the empty token set — without this,
    # size(NULL array) is -1 in Spark (a nonsense score the oracle's
    # len(NULL)=NULL would diverge from)
    empty = F.array().cast("array<string>")
    dd = corpus.select(
        F.col(id_col),
        F.coalesce(F.array_distinct(tokens(text_col)), empty).alias("__dt"),
    )
    dq = queries.select(
        F.col(query_id_col),
        F.coalesce(
            F.array_distinct(tokens(query_text_col)), empty
        ).alias("__qt"),
    )
    scored = (
        dd.join(F.broadcast(cand), id_col)
        .join(F.broadcast(dq), query_id_col)
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.size(F.array_intersect(F.col("__dt"), F.col("__qt"))).alias(
                "n_common"
            ),
            F.size(F.col("__qt")).alias("__nq"),
            F.col("__rank1"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("n_common").desc(), F.col("__rank1").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn(
            "overlap",
            # a query with NO tokens (NULL/blank text) defines
            # overlap as 0.0 — the 0/0 division would kill the job
            # under ANSI (the SQ8 zero-vector precedent)
            F.when(
                F.col("__nq") > 0,
                F.col("n_common").cast("double")
                / F.col("__nq").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "n_common", "overlap", "rank")
    )


def default_cross_scorer(q_texts, d_texts):
    """Deterministic model-free pair scorer — the shipped default for
    :func:`rerank_cross_encoder` (VERDICT r12 item 6), so the op runs
    end-to-end without an inference runtime while keeping ``scorer=``
    injection for real cross-encoders.

    Per pair, from whitespace-distinct token sets: overlap
    ``|q∩d|/|q|``, containment ``|q∩d|/|d|``, and the length ratio
    ``min(|q|,|d|)/max(|q|,|d|)``, combined through a FIXED logistic
    ``sigmoid(-2 + 3*overlap + 1.5*containment + 0.5*len_ratio)``.
    The weights are constants, not trained — the scorer is a
    deterministic heuristic standing where a model forward pass goes,
    strictly increasing in overlap/containment so planted duplicates
    rank first (pinned in tests, bitwise: pure float64 + libm exp).
    NULL text scores as the empty token set."""
    import math

    import pandas as pd

    out = []
    for q, d in zip(q_texts, d_texts):
        qt = set(q.split()) if isinstance(q, str) else set()
        dt = set(d.split()) if isinstance(d, str) else set()
        inter = len(qt & dt)
        ov = inter / len(qt) if qt else 0.0
        ct = inter / len(dt) if dt else 0.0
        lr = min(len(qt), len(dt)) / max(len(qt), len(dt)) if qt and dt else 0.0
        z = -2.0 + 3.0 * ov + 1.5 * ct + 0.5 * lr
        out.append(1.0 / (1.0 + math.exp(-z)))
    return pd.Series(out, dtype="float64")


def rerank_cross_encoder(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    scorer=None,
    k: int = 10,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    text_col: str = "text",
    query_text_col: str = "text",
    rank_col: str = "rank",
) -> DataFrame:
    """Model-scored second stage with the SAME plumbing as
    :func:`rerank_overlap`: the candidate (query, doc) TEXT pairs —
    |Q| x n_candidates rows, never the corpus — flow through
    ``mapInPandas`` in Arrow batches to ``scorer``, a callable
    ``(pandas.Series q_text, pandas.Series d_text) -> pandas.Series
    float`` (a cross-encoder forward pass in real deployments).
    Returns ``(query_id, id, score, rank)``, rank 1..k per query by
    (score DESC, first-stage rank ASC, id ASC).

    ``scorer=None`` uses :func:`default_cross_scorer` — a
    deterministic token-feature logistic, so the op is usable
    end-to-end in environments without an inference runtime; pass a
    real model's batch forward for production quality. The plumbing
    (pair join shape, Arrow batching, schema, deterministic final
    window) is identical either way and test-pinned."""
    from pyspark.sql.types import (
        DoubleType,
        StructField,
        StructType,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if scorer is None:
        scorer = default_cross_scorer
    from pyspark.sql import Window

    cand = candidates.select(
        F.col(query_id_col),
        F.col(id_col),
        F.col(rank_col).alias("__rank1"),
    )
    pairs = (
        corpus.select(F.col(id_col), F.col(text_col).alias("__dtext"))
        .join(F.broadcast(cand), id_col)
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id_col),
                    F.col(query_text_col).alias("__qtext"),
                )
            ),
            query_id_col,
        )
    )
    qid_f = pairs.schema[query_id_col]
    id_f = pairs.schema[id_col]
    r1_f = pairs.schema["__rank1"]
    out_schema = StructType(
        [
            StructField(query_id_col, qid_f.dataType),
            StructField(id_col, id_f.dataType),
            StructField("__rank1", r1_f.dataType),
            StructField("score", DoubleType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                # never hand an empty batch to the user's scorer (a
                # model forward pass on zero rows is a common crash)
                continue
            out = pdf[[query_id_col, id_col, "__rank1"]].copy()
            out["score"] = [
                float(x) for x in scorer(pdf["__qtext"], pdf["__dtext"])
            ]
            yield out

    scored = pairs.mapInPandas(run, schema=out_schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col("__rank1").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def rerank_mmr(
    candidates: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    lam: float = 0.5,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    text_col: str = "text",
    rank_col: str = "rank",
) -> DataFrame:
    """Diversity-aware second stage — Maximal Marginal Relevance
    (Carbonell & Goldstein, SIGIR 1998; public literature,
    independently implemented), the standard answer to a first stage
    that returns k near-copies of the same passage: after scraping,
    boilerplate near-dups dominate BM25/ANN top-k, and a RAG or
    training-data consumer wants COVERAGE of the result space, not
    five copies of one document. Greedy selection over each query's
    candidate set:

        pick_1 = the best first-stage rank
        pick_s = argmax  lam * (1 / rank1)
                       - (1 - lam) * max_{c in picked} jaccard(d, c)

    Relevance is the RECIPROCAL FIRST-STAGE RANK — the RRF convention
    this repo's hybrid fusion already uses, for the same reason:
    scale-free across BM25 / hybrid / ANN stage ones (whose score
    scales differ), and here additionally SCALE-MATCHED to the [0,1]
    Jaccard redundancy term, so ``lam=0.5`` genuinely balances the
    two. (A linear-in-rank relevance would make lam=0.5 degenerate:
    with integer ranks, a redundancy delta bounded by 1 can never
    outweigh a 1-rank relevance gap.) Redundancy is distinct-token
    Jaccard ``|t_d ∩ t_c| / |t_d ∪ t_c|`` between candidate
    documents (empty-union pairs score 0.0). ``lam=1`` degenerates to
    the first-stage order; ``lam=0`` is pure anti-redundancy after
    the first pick (both pinned in tests). Ties break by
    (score DESC, rank1 ASC, id ASC) — a refinement, never a coin
    flip (the rerank-family contract shared with
    :func:`rerank_overlap`). Returns ``(query_id, id, rank1,
    mmr_rank)`` with ``mmr_rank`` 1..k per query; candidates missing
    from the corpus are dropped (the inner-join contract the other
    rerankers share).

    Tier choice: greedy selection is sequential in s by definition,
    so this is a documented Arrow tier (``applyInPandas`` per query
    group), not Catalyst — sanctioned because every group is
    CANDIDATE-bounded, never corpus-bounded: the corpus text is
    joined only for the broadcast candidate ids, so stage-two cost is
    |Q| x n_candidates^2 token-set intersections regardless of corpus
    size (n_candidates is the first stage's k — tens, not millions).
    Selection floats are replayed bitwise by the DuckDB oracle:
    Python and DuckDB share IEEE-754 double semantics, and the score
    uses the same division / multiply / subtract shapes on
    integer-exact inputs; the RETURNED columns are all integers."""
    from pyspark.sql.types import LongType, StructField, StructType

    from .text import tokens

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    one_minus_lam = 1.0 - lam
    cand = candidates.select(
        F.col(query_id_col),
        F.col(id_col),
        F.col(rank_col).alias("__rank1"),
    )
    # NULL text coalesces to the empty token set (the rerank_overlap
    # precedent; size(NULL)=-1 nonsense otherwise)
    empty = F.array().cast("array<string>")
    dd = corpus.select(
        F.col(id_col),
        F.coalesce(F.array_distinct(tokens(text_col)), empty).alias("__dt"),
    )
    joined = dd.join(F.broadcast(cand), id_col)
    qid_f = joined.schema[query_id_col]
    id_f = joined.schema[id_col]
    r1_f = joined.schema["__rank1"]
    out_schema = StructType(
        [
            StructField(query_id_col, qid_f.dataType),
            StructField(id_col, id_f.dataType),
            StructField("rank1", r1_f.dataType),
            StructField("mmr_rank", LongType()),
        ]
    )

    def per_query(pdf):
        import pandas as pd

        toks = [set(t) for t in pdf["__dt"]]
        rank1 = [int(r) for r in pdf["__rank1"]]
        bad = [r for r in rank1 if r < 1]
        if bad:
            raise ValueError(
                "rerank_mmr: first-stage ranks must be >= 1 (the "
                f"1-based row_number contract), got {sorted(bad)[:3]} — "
                "a 0-based rank would divide by zero and a negative "
                "one silently inverts relevance"
            )
        ids = list(pdf[id_col])
        qids = list(pdf[query_id_col])
        # candidate indices in tiebreak order (rank1 ASC, id ASC):
        # iterating in this order with a STRICT > comparison makes
        # the argmax resolve ties exactly like the oracle's
        # row_number ORDER BY score DESC, rank1, doc_id
        remaining = sorted(
            range(len(ids)), key=lambda i: (rank1[i], ids[i])
        )
        # running max-jaccard-to-picked per candidate: only the NEWEST
        # pick can raise it, so updating after each pick keeps the
        # documented n_candidates^2 intersection bound (a fresh max
        # over all picked per step would be ~k/2 x that); max over
        # the same IEEE values in any order is exact, so picks are
        # identical either way
        mj = [0.0] * len(ids)
        rows = []
        while remaining and len(rows) < k:
            if not rows:
                best = remaining[0]
            else:
                best, best_score = None, None
                for i in remaining:
                    s = lam * (1.0 / rank1[i]) - one_minus_lam * mj[i]
                    if best is None or s > best_score:
                        best, best_score = i, s
            remaining.remove(best)
            rows.append((qids[best], ids[best], rank1[best], len(rows) + 1))
            tb = toks[best]
            for i in remaining:
                ti = toks[i]
                inter = len(ti & tb)
                union = len(ti) + len(tb) - inter
                jac = inter / union if union else 0.0
                if jac > mj[i]:
                    mj[i] = jac
        return pd.DataFrame(
            rows, columns=[query_id_col, id_col, "rank1", "mmr_rank"]
        )

    return joined.groupBy(query_id_col).applyInPandas(per_query, out_schema)


# ---------------------------------------------------------------------------
# hybrid (lexical + dense) rankers
# ---------------------------------------------------------------------------


def _check_hybrid(rrf_k: int, w_lex: float, w_dense: float, dense=None) -> None:
    """Shared validation of every hybrid entry point: 0.0 legitimately
    disables a side, but a NEGATIVE weight would silently invert that
    side's rank contribution, and NaN (which compares False both ways)
    would silently poison every fused score."""
    if rrf_k < 1:
        raise ValueError(f"rrf_k must be >= 1, got {rrf_k}")
    for name, w in (("w_lex", w_lex), ("w_dense", w_dense)):
        if not (w >= 0):
            raise ValueError(
                f"{name} must be >= 0 (0 disables the side), got {w!r}"
            )
    if dense is not None and dense not in ("ivf", "ivfpq", "ivfsq8"):
        raise ValueError(
            f"dense must be 'ivf', 'ivfpq', or 'ivfsq8', got {dense!r}"
        )


def _rrf_fuse(
    lex, dense, dense_id: str, id_col: str, rrf_k: int, k: int,
    w_lex: float, w_dense: float, query_id_col: str | None = None,
) -> DataFrame:
    """The one Reciprocal Rank Fusion of every hybrid form: ``lex`` is
    a BM25 ranking, ``dense`` a dense ranking with ids in ``dense_id``
    and a ``rank`` column. Both arms are <= n_candidates rows (per
    query), so the fusion join and every window here are
    candidate-bounded. Engine-exact: a fixed-order sum of reciprocals
    of exact integer ranks, each side scaled by its weight (``w=1.0``
    multiplies exactly, so the defaults are bitwise the unweighted
    fusion). With ``query_id_col`` the fusion is per query and keeps
    each query's top ``k`` by a rank window; without, it ranks the
    one query's candidates and keeps ``k`` rows."""
    keys = [] if query_id_col is None else [query_id_col]

    def order(col):
        return [F.col(col).desc(), F.col(id_col).asc()]

    if query_id_col is None:
        lex_rank = F.row_number().over(Window.orderBy(*order("score")))
    else:
        lex_rank = F.col("rank")
    lex = lex.select(
        *keys, F.col(id_col).alias("__id"), lex_rank.cast("bigint").alias("rank_lex")
    )
    dense = dense.select(
        *keys,
        F.col(dense_id).alias("__id"),
        F.col("rank").cast("bigint").alias("rank_dense"),
    )
    fused = lex.join(dense, keys + ["__id"], "full_outer").select(
        *keys,
        F.col("__id").alias(id_col),
        (
            F.coalesce(
                F.lit(float(w_lex))
                * (F.lit(1.0) / (F.lit(int(rrf_k)) + F.col("rank_lex"))),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(float(w_dense))
                * (F.lit(1.0) / (F.lit(int(rrf_k)) + F.col("rank_dense"))),
                F.lit(0.0),
            )
        ).alias("rrf"),
        "rank_lex",
        "rank_dense",
    )
    if query_id_col is None:
        rank = F.row_number().over(Window.orderBy(*order("rrf")))
        return (
            fused.select(
                id_col, "rrf", "rank_lex", "rank_dense",
                rank.cast("bigint").alias("rank"),
            )
            .orderBy("rank")
            .limit(int(k))
        )
    w = Window.partitionBy(query_id_col).orderBy(*order("rrf"))
    return fused.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= k)


def _dense_arm(
    spark, ann_path: str, dense: str, query, n_candidates: int, nprobe,
    rerank, where, query_id_col=None, query_vec_col=None,
) -> DataFrame:
    """The one dense-arm lookup of the indexed hybrids: ``dense`` picks
    the IVF-family index (``ivf`` exact-cosine cells, ``ivfpq``
    product-quantized codes, ``ivfsq8`` scalar-quantized codes — the
    compressed arms take the exact-cosine ``rerank`` tail), and the
    input picks the probe: one query vector, or a batch relation with
    ``query_id_col`` / ``query_vec_col``."""
    from . import similarity as sim

    single, batch = {
        "ivf": (sim.ann_ivf_topk_indexed, sim.ann_ivf_join_indexed),
        "ivfpq": (sim.ann_ivfpq_topk_indexed, sim.ann_ivfpq_join_indexed),
        "ivfsq8": (sim.ann_ivfsq8_topk_indexed, sim.ann_ivfsq8_join_indexed),
    }[dense]
    kw = {
        "k": n_candidates,
        "nprobe": sim.ANN_NPROBE if nprobe is None else int(nprobe),
        "where": where,
    }
    if dense != "ivf":
        kw["rerank"] = rerank
    if query_id_col is None:
        return single(spark, ann_path, [float(x) for x in query], **kw)
    return batch(
        spark, ann_path, query,
        query_id_col=query_id_col, query_vec_col=query_vec_col, **kw,
    )


def hybrid_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    query: str,
    query_vec: list,
    k: int = 10,
    n_candidates: int = 50,
    rrf_k: int = 60,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    lex_where=None,
    dense_where=None,
    w_lex: float = 1.0,
    w_dense: float = 1.0,
) -> DataFrame:
    """Hybrid retrieval: fuse lexical (BM25) and dense (exact cosine)
    rankings by Reciprocal Rank Fusion (Cormack et al., SIGIR'09):

        rrf(d) = 1/(rrf_k + rank_lex(d)) + 1/(rrf_k + rank_dense(d))

    with a side contributing 0 when ``d`` is outside its top
    ``n_candidates``. The standard two-tower retrieval pattern — BM25
    catches exact-term matches embeddings blur, embeddings catch
    paraphrases BM25 misses. ``docs`` and ``embeddings`` must share an
    id space (``id_col`` == ``vec_id_col`` values).

    Returns ``(id, rrf, rank_lex, rank_dense, rank)`` — ranks NULL for
    the side that did not retrieve the id.

    Exactness: RRF is a sum of two reciprocals of exact integers,
    added in a FIXED order — no transcendentals, so the fusion layer
    is engine-exact by construction (the BM25 side carries its own
    libm-idf discipline). Scale shape: each side is its own scale-safe
    top-``n_candidates`` (TakeOrderedAndProject); the fusion then
    joins two <= n_candidates-row relations — negligible at any corpus
    size.

    ``lex_where`` / ``dense_where`` restrict each side's candidates
    (filtered hybrid — each arm's documented filter contract; pass
    the same predicate to both when the corpora share metadata).
    ``w_lex`` / ``w_dense`` scale each side's reciprocal rank."""
    from .similarity import _apply_where, cosine_topk

    _check_hybrid(rrf_k, w_lex, w_dense)
    lex = bm25_topk(
        docs, query, k=n_candidates, k1=k1, b=b,
        text_col=text_col, id_col=id_col, where=lex_where,
    )
    dense = cosine_topk(
        _apply_where(embeddings, dense_where),
        [float(x) for x in query_vec], k=n_candidates,
        vec_col=vec_col, id_col=vec_id_col,
    )
    return _rrf_fuse(lex, dense, vec_id_col, id_col, rrf_k, k, w_lex, w_dense)


def hybrid_topk_indexed(
    spark,
    bm25_path: str,
    ann_path: str,
    query: str,
    query_vec: list,
    k: int = 10,
    n_candidates: int = 50,
    rrf_k: int = 60,
    nprobe: int | None = None,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    dense: str = "ivf",
    dense_rerank: int | None = None,
    lex_where=None,
    dense_where=None,
    w_lex: float = 1.0,
    w_dense: float = 1.0,
) -> DataFrame:
    """Hybrid retrieval against PERSISTED indexes on both sides — the
    100 TB serving form of :func:`hybrid_topk`: the lexical candidates
    come from the bucket-pruned BM25 inverted index
    (:func:`bm25_topk_indexed` — reads only the query terms' postings
    buckets, never corpus text) and the dense candidates from a
    persisted IVF index (``similarity.ann_ivf_topk_indexed`` — scans
    only the ``nprobe`` probed cell directories), fused by the same
    engine-exact RRF layer. Neither side touches a full table: the
    probe cost is O(query terms' postings + probed cells), independent
    of corpus size.

    ``dense="ivfpq"`` probes an IVF-PQ index instead
    (``similarity.ann_ivfpq_topk_indexed``) — same cell pruning PLUS
    code-column-only reads (~16x less probe IO at the defaults);
    ``dense="ivfsq8"`` probes an IVF-SQ8 index
    (``similarity.ann_ivfsq8_topk_indexed`` — scalar-quantized codes,
    ~4x less probe IO at near-exact recall, the middle ground).
    ``dense_rerank=R`` adds the exact-cosine tail over each probe's
    top-R compressed candidates. The fusion consumes ranks only, so
    any dense arm slots in unchanged.

    With ``nprobe >= nlist`` (full probe) the IVF dense side ranks by
    exact cosine over all vectors, so the output is BITWISE the
    scan-form :func:`hybrid_topk` (pinned in tests; for ``ivfpq`` the
    same holds with ``dense_rerank >= |corpus|``); at serving defaults
    the dense side trades recall for the pruned scan, which is the
    point. ``nprobe=None`` uses the similarity module's default.
    ``lex_where`` / ``dense_where`` restrict each arm's candidates
    in-scan (filtered hybrid — both indexes must store the predicate
    columns via their builds' ``extra_cols``)."""
    _check_hybrid(rrf_k, w_lex, w_dense, dense)
    lex = bm25_topk_indexed(
        spark, bm25_path, query, k=n_candidates, k1=k1, b=b,
        id_col=id_col, where=lex_where,
    )
    arm = _dense_arm(
        spark, ann_path, dense, query_vec, n_candidates, nprobe,
        dense_rerank, dense_where,
    )
    return _rrf_fuse(lex, arm, "vec_id", id_col, rrf_k, k, w_lex, w_dense)


def hybrid_join(
    docs: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_candidates: int = 50,
    rrf_k: int = 60,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_text_col: str = "text",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    lex_where=None,
    dense_where=None,
    w_lex: float = 1.0,
    w_dense: float = 1.0,
) -> DataFrame:
    """Batch hybrid retrieval — the R-S form of :func:`hybrid_topk`:
    fuse per-query BM25 (:func:`bm25_join`, one corpus text scan for
    the whole batch) and per-query exact cosine
    (``similarity.cosine_join``, one embedding scan) rankings by RRF.
    ``queries`` carries BOTH modalities per row: ``(query_id, text,
    query_vec)``. Returns ``(query_id, id, rrf, rank_lex, rank_dense,
    rank)`` with rank 1..k per query; ranks NULL for the side that
    did not retrieve the id.

    Each side scans its table ONCE regardless of |queries|; the
    fusion joins two <= |queries| x n_candidates relations. The
    100 TB serving form is :func:`hybrid_join_indexed` (neither side
    scans a full table). ``lex_where`` / ``dense_where`` restrict
    each side's candidates (filtered hybrid)."""
    from .similarity import _apply_where, cosine_join

    _check_hybrid(rrf_k, w_lex, w_dense)
    lex = bm25_join(
        docs, queries, k=n_candidates, k1=k1, b=b, text_col=text_col,
        id_col=id_col, query_text_col=query_text_col,
        query_id_col=query_id_col, where=lex_where,
    )
    dense = cosine_join(
        _apply_where(embeddings, dense_where), queries, k=n_candidates,
        vec_col=vec_col, id_col=vec_id_col, query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )
    return _rrf_fuse(
        lex, dense, vec_id_col, id_col, rrf_k, k, w_lex, w_dense, query_id_col
    )


def hybrid_join_indexed(
    spark,
    bm25_path: str,
    ann_path: str,
    queries: DataFrame,
    k: int = 10,
    n_candidates: int = 50,
    rrf_k: int = 60,
    nprobe: int | None = None,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    query_text_col: str = "text",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dense: str = "ivf",
    dense_rerank: int | None = None,
    lex_where=None,
    dense_where=None,
    w_lex: float = 1.0,
    w_dense: float = 1.0,
) -> DataFrame:
    """Batch hybrid retrieval against PERSISTED indexes on both sides
    — completes the hybrid matrix (:func:`hybrid_topk` /
    :func:`hybrid_topk_indexed` / :func:`hybrid_join` / this), and is
    the shape a 100 TB RAG serving path actually runs: the whole
    query batch's lexical candidates come from the bucket-pruned BM25
    inverted index (:func:`bm25_join_indexed` — reads the batch
    vocabulary's postings buckets only) and its dense candidates from
    the IVF index (``similarity.ann_ivf_join_indexed`` — reads the
    union of the batch's probed cells only), fused per query by the
    same engine-exact RRF. No full-table scan anywhere.

    ``dense="ivfpq"`` probes an IVF-PQ index instead
    (``similarity.ann_ivfpq_join_indexed``); ``dense="ivfsq8"`` an
    IVF-SQ8 index (``similarity.ann_ivfsq8_join_indexed``, the
    scalar-quantized middle ground) — the union-of-cells scan
    additionally reads the CODE column only (~16x less probe IO at
    the defaults); ``dense_rerank=R`` adds the per-query exact-cosine
    tail. The fusion consumes ranks only, so either arm slots in.

    With ``nprobe >= nlist`` the output is BITWISE :func:`hybrid_join`
    (pinned in tests; for ``ivfpq`` the same holds with
    ``dense_rerank >= |corpus|``); at serving defaults the dense side
    trades recall for the pruned scan. ``lex_where`` /
    ``dense_where`` restrict each arm's candidates in-scan (filtered
    hybrid; both indexes must store the predicate columns).

    |Q| ceiling: the query batch is driver-materialized BY DESIGN
    (texts + vectors; ~100 bytes + 8*dim per query — 10^5 queries at
    dim 64 is ~60 MB, far under driver memory). Millions of queries:
    chunk the batch and union the outputs — per-query results are
    independent, so chunking is semantics-free."""
    _check_hybrid(rrf_k, w_lex, w_dense, dense)
    # materialize the query batch ONCE: both sides must collect the
    # workload anyway (terms -> postings buckets, vectors -> probe
    # cells), and handing each a live DataFrame would re-run the
    # caller's query-construction lineage per side
    # bounded-collect: the retrieval workload (both sides re-collect
    # from this local relation, which is free)
    qrows = queries.select(
        F.col(query_id_col),
        F.col(query_text_col),
        F.col(query_vec_col).cast("array<double>"),
    ).collect()
    if not qrows:
        raise ValueError("query batch is empty")
    qlocal = _local_rows_df(
        spark,
        [(r[0], r[1], [float(x) for x in r[2]]) for r in qrows],
        StructType(
            [
                StructField(query_id_col, queries.schema[query_id_col].dataType),
                StructField(query_text_col, StringType()),
                StructField(query_vec_col, ArrayType(DoubleType())),
            ]
        ),
    )
    lex = bm25_join_indexed(
        spark, bm25_path, qlocal, k=n_candidates, k1=k1, b=b, id_col=id_col,
        query_text_col=query_text_col, query_id_col=query_id_col,
        where=lex_where,
    )
    arm = _dense_arm(
        spark, ann_path, dense, qlocal, n_candidates, nprobe, dense_rerank,
        dense_where, query_id_col, query_vec_col,
    )
    return _rrf_fuse(
        lex, arm, "vec_id", id_col, rrf_k, k, w_lex, w_dense, query_id_col
    )


# ---------------------------------------------------------------------------
# retrieval evaluation
# ---------------------------------------------------------------------------


def retrieval_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    grade_col: str = "grade",
) -> DataFrame:
    """Per-query retrieval quality — the eval half of the retrieval
    surface: given a ranked result relation (``query_id, id, rank``,
    rank 1-based — the output shape of :func:`bm25_join`,
    :func:`hybrid_join_indexed`, ``similarity.cosine_join``, ...) and
    a relevance-judgment relation (``query_id, id, grade`` with
    grade > 0 relevant), compute the standard cutoff-``k`` metrics:

    * ``recall``  = |relevant retrieved in top k| / |relevant|
    * ``rr``      = 1 / rank of the first relevant hit (0 if none) —
      average it for MRR@k
    * ``ap``      = average precision@k: the j-th relevant hit (by
      rank) contributes ``j / rank_j``; the sum is divided by
      ``min(n_relevant, k)`` — average it for MAP@k
    * ``ndcg``    = DCG@k / IDCG@k with linear gain,
      DCG = sum_i grade_i / log2(rank_i + 1)

    Returns ``(query_id, n_relevant, n_hits, recall, rr, ap, ndcg)``
    — one row per query WITH at least one relevant judgment (the
    convention every IR eval tool uses: unjudged queries are
    excluded, retrieved-nothing queries score 0).

    Scale shape: one cutoff filter + one join of results against
    qrels (both workload-sized — at 100 TB the corpus appears only
    through the ids results carry), two bounded per-query aggregates,
    and a broadcast-friendly final join keyed by query. Float
    discipline: every log2 runs through ``exactmath.ln_libm`` on the
    bounded hit/judgment relations divided by the libm ``ln(2)``
    literal, and the DCG/IDCG sums are strict rank-ordered folds — the
    DuckDB oracle replays them bit-for-bit (recall and rr are single
    IEEE divisions of exact integers)."""
    import math as _math

    from .exactmath import ln_libm

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    ln2 = F.lit(_math.log(2.0))
    rel = qrels.filter(F.col(grade_col) > 0).select(
        F.col(query_id_col),
        F.col(id_col),
        F.col(grade_col).cast("double").alias("__g"),
    )
    # per-query judgment totals + IDCG@k: the ideal ordering is the
    # grades descending; the fold runs over the top-k of that ordering
    # in strict position order (1-indexed, log2(i+1) via libm)
    ideal = (
        rel.groupBy(query_id_col)
        .agg(
            F.count(F.lit(1)).alias("n_relevant"),
            F.slice(
                F.reverse(F.array_sort(F.collect_list("__g"))), 1, int(k)
            ).alias("__gs"),
        )
        .select(
            query_id_col,
            "n_relevant",
            F.posexplode("__gs").alias("__i", "__g"),
        )
        .select(
            query_id_col,
            "n_relevant",
            "__i",
            (
                F.col("__g")
                / (ln_libm(F.col("__i") + F.lit(2.0)) / ln2)
            ).alias("__t"),
        )
        .groupBy(query_id_col, "n_relevant")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("__i", "__t"))),
                F.lit(0.0),
                lambda acc, s: acc + s["__t"],
            ).alias("__idcg")
        )
    )
    hits = (
        results.filter(F.col(rank_col) <= k)
        .select(
            F.col(query_id_col), F.col(id_col), F.col(rank_col).alias("__r")
        )
        .join(rel, [query_id_col, id_col])
        .select(
            query_id_col,
            "__r",
            (
                F.col("__g")
                / (ln_libm(F.col("__r") + F.lit(1.0)) / ln2)
            ).alias("__t"),
        )
    )
    per_q = hits.groupBy(query_id_col).agg(
        F.count(F.lit(1)).alias("n_hits"),
        (F.lit(1.0) / F.min("__r")).alias("rr"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("__r", "__t"))),
            F.lit(0.0),
            lambda acc, s: acc + s["__t"],
        ).alias("__dcg"),
        # AP numerator: the j-th relevant hit by rank contributes
        # j / rank_j (both exact integers — one IEEE division per
        # term), summed in strict position order: sort the hit ranks,
        # fold with a (count, sum) struct accumulator
        F.aggregate(
            F.array_sort(F.collect_list("__r")),
            F.struct(
                F.lit(0).alias("j"), F.lit(0.0).alias("s")
            ),
            lambda acc, r: F.struct(
                (acc["j"] + 1).alias("j"),
                (acc["s"] + (acc["j"] + 1) / r).alias("s"),
            ),
        )["s"].alias("__apsum"),
    )
    return (
        ideal.join(per_q, query_id_col, "left")
        .select(
            query_id_col,
            "n_relevant",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)) / F.col("n_relevant")
            ).alias("recall"),
            F.coalesce("rr", F.lit(0.0)).alias("rr"),
            F.coalesce(
                F.col("__apsum")
                / F.least(F.col("n_relevant"), F.lit(int(k))),
                F.lit(0.0),
            ).alias("ap"),
            F.coalesce(
                F.col("__dcg") / F.col("__idcg"), F.lit(0.0)
            ).alias("ndcg"),
        )
    )


def retrieval_metrics_summary(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    grade_col: str = "grade",
) -> DataFrame:
    """One-row corpus-level summary of :func:`retrieval_metrics`:
    ``(n_queries, recall, mrr, map, ndcg)`` — the means IR papers
    report (MRR@k = mean rr, MAP@k = mean ap, ...). Means are strict
    query-id-ordered folds divided by the exact integer count, so the
    summary is bitwise-reproducible like the per-query relation it
    folds (a plain ``avg`` would sum in partition order)."""
    per_q = retrieval_metrics(
        results, qrels, k=k, query_id_col=query_id_col, id_col=id_col,
        rank_col=rank_col, grade_col=grade_col,
    )

    def mean_of(col: str):
        return (
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(query_id_col, col))
                ),
                F.lit(0.0),
                lambda acc, s: acc + s[col],
            )
            / F.count(F.lit(1))
        )

    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        mean_of("recall").alias("recall"),
        mean_of("rr").alias("mrr"),
        mean_of("ap").alias("map"),
        mean_of("ndcg").alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# persisted BM25 index: store lifecycle and indexed rankers
# ---------------------------------------------------------------------------


_BM25_RESERVED_COLS = (
    "tok", "tf", "dl", "df", "tok_bucket", "ingest_batch_id",
    "n_docs", "sum_dl", "n_buckets",
)


def _check_bm25_extra_cols(extra_cols, id_col: str, text_col: str) -> None:
    bad = [
        c
        for c in extra_cols
        if c in _BM25_RESERVED_COLS or c in (id_col, text_col)
    ]
    if bad:
        raise ValueError(
            f"extra_cols {bad} collide with BM25 index layout columns "
            f"({_BM25_RESERVED_COLS + (id_col, text_col)})"
        )


def _bm25_extra_cols(postings: DataFrame, id_col: str) -> list[str]:
    """Metadata columns a persisted postings relation carries beyond
    the layout — appends introspect these (the ANN-append pattern) so
    extras flow through without a parameter, and a batch MISSING one
    fails loudly at the select instead of writing silent nulls."""
    return [
        c
        for c in postings.columns
        if c not in _BM25_RESERVED_COLS and c != id_col
    ]


def build_bm25_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int | None = 64,
    commit: str = "rename",
    extra_cols: tuple[str, ...] = (),
    target_bucket_docs: int = 1024,
) -> None:
    """Persist the BM25 inverted index for a corpus — the repeated-
    retrieval twin of :func:`bm25_topk` (which rebuilds the query
    terms' postings from text every call). One corpus scan writes:

    * ``{path}/postings`` — ``(tok, id, tf, dl)``, directory-
      partitioned by ``ingest_batch_id`` (base ``-1``; appends land in
      their own partitions, the every-store layout) then
      ``tok_bucket = md5(tok) % n_buckets`` so a probe reads ONLY its
      terms' buckets (``PartitionFilters`` prune whole directories at
      planning time — at 100 TB, the difference between scanning the
      corpus and reading a few term shards);
    * ``{path}/dft``     — per-term document-frequency rows, same
      layout; appends write per-batch DELTAS which probes merge for
      THEIR terms only (the band-store counts trick);
    * ``{path}/_bm25_stats`` — per-batch (n_docs, sum_dl) rows, summed
      at probe time (bounded by batch count; compaction re-totals);
    * ``{path}/_bm25_meta``  — ``n_buckets`` (probes resolve it; the
      ``_lsh_meta`` discipline).

    ``commit`` is the shared storage contract of every store
    (``sources/manifest.py``). Probes (:func:`bm25_topk_indexed`) are
    pinned bitwise-equal to the scan form, including across appends
    (idf and avgdl re-derive from the summed stats, so a probe after
    ``append_to_bm25_index`` equals a text scan of the UNION corpus).
    Append batches must hold NEW document ids (the shared
    reserved-base contract of all the incremental stores).

    ``extra_cols`` stores passthrough metadata (source, language,
    license) on every postings row — the filtered-retrieval enabler:
    a probe's ``where`` then evaluates inside the bucket-pruned scan
    (parquet pushdown). Per-(doc, term) duplication of the metadata
    value is the standard stored-field trade; keep extras narrow.

    ``n_buckets=None`` AUTO-SIZES the bucket count from the corpus:
    ``ceil(n_docs / target_bucket_docs)`` — the ``nlist=None`` rule of
    the IVF builds carried to the lexical store. Fixed buckets make a
    probe's per-bucket read grow linearly with the corpus (the b40
    1.4-1.5x probe slope in PARITY's scaling note); auto keeps
    expected postings-per-bucket roughly constant, so probe IO stays
    flat as the corpus grows. The DEFAULT stays the fixed constant so
    gated constructions remain oracle-replayable; pass ``None`` at
    scale. Probes resolve whatever count was used from
    ``_bm25_meta``, so nothing downstream changes."""
    if n_buckets is None:
        if target_bucket_docs < 1:
            raise ValueError(
                f"target_bucket_docs must be >= 1, got {target_bucket_docs}"
            )
        # one corpus scalar (count) sizing the layout
        n_buckets = max(
            1, -(-docs.count() // int(target_bucket_docs))
        )
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    _check_bm25_extra_cols(extra_cols, id_col, text_col)
    spark = docs.sparkSession
    with staged_store(spark, path, commit) as staged:
        _write_bm25_batch(
            docs, staged, text_col, id_col, extra_cols, n_buckets, -1, "overwrite"
        )
        _local_rows_df(
            spark,
            [(int(n_buckets),)], "n_buckets int"
        ).coalesce(1).write.mode("overwrite").parquet(f"{staged}/_bm25_meta")


def _write_bm25_batch(
    docs: DataFrame, path: str, text_col: str, id_col: str, extra_cols,
    n_buckets: int, part: int, mode: str,
) -> None:
    """One batch partition of every per-batch table — postings, df
    deltas, corpus stats — shared by the build (base ``-1``,
    overwrite) and appends. The build counts df from a read-back of
    the partition it just wrote (no corpus-sized cache); an append
    counts its cached batch frame (a read-back of an append-mode base
    partition would include the prior rows)."""
    from ..sources.bucketed import write_partitioned
    from .dedup import spread_small_input

    build = part == -1 and mode == "overwrite"
    postings = _postings(
        spread_small_input(docs), text_col, id_col, extra_cols=extra_cols
    ).withColumn("tok_bucket", F.pmod(md5_int32(F.col("tok")), F.lit(n_buckets)))
    if not build:
        postings = postings.persist()
    dst = f"{path}/postings/ingest_batch_id={part}"
    write_partitioned(postings, dst, "tok_bucket", mode=mode)
    (
        (docs.sparkSession.read.parquet(dst) if build else postings)
        .groupBy("tok_bucket", "tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .write.partitionBy("tok_bucket")
        .mode(mode)
        .parquet(f"{path}/dft/ingest_batch_id={part}")
    )
    if not build:
        postings.unpersist()
    _corpus_stats(docs, text_col).coalesce(1).write.mode(mode).parquet(
        f"{path}/_bm25_stats/ingest_batch_id={part}"
    )


def append_to_bm25_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | None = None,
) -> None:
    """Append a new batch of documents to an existing BM25 index —
    the nightly post-ingest step, mirroring
    ``append_to_minhash_band_store``: postings land as-is, per-term df
    and the corpus stats append as PER-BATCH DELTA rows (probes merge
    them lazily, for their terms only), so the append is O(new batch)
    — the existing index is never read, let alone re-totalled.

    ``batch_id`` follows the shared append contract
    (``sources.manifest.batch_dir``: own partition, idempotent). Batch
    ids must be NEW documents (shared incremental-store contract);
    probes after the append equal a text scan of the union corpus
    (pinned)."""
    spark = docs.sparkSession
    path, part, mode = batch_dir(spark, path, batch_id)
    # bounded-collect: one parameter row from the index metadata
    n_buckets = int(spark.read.parquet(f"{path}/_bm25_meta").collect()[0][0])
    extras = _bm25_extra_cols(
        spark.read.parquet(f"{path}/postings"), id_col
    )
    _write_bm25_batch(docs, path, text_col, id_col, extras, n_buckets, part, mode)


def bm25_index_stats(spark, path: str) -> DataFrame:
    """Operational health report for a persisted BM25 index: one row
    per ``(table, ingest_batch_id, tok_bucket)`` with its row count,
    over the postings AND the df-delta store (``table`` in
    ``('postings', 'dft')``). Many batch partitions or fat df-delta
    counts -> :func:`compact_bm25_index`; persistently hot buckets ->
    rebuild with a larger ``n_buckets``. Store-only read, aggregate
    bounded by tables x batches x buckets."""
    path = resolve_root(spark, path)
    out = None
    for table in ("postings", "dft"):
        t = (
            spark.read.parquet(f"{path}/{table}")
            .groupBy(
                F.lit(table).alias("table"),
                F.col("ingest_batch_id").cast("bigint").alias(
                    "ingest_batch_id"
                ),
                F.col("tok_bucket").cast("int").alias("tok_bucket"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
        out = t if out is None else out.unionByName(t)
    return out


def compact_bm25_index(spark, path: str) -> None:
    """Collapse a long-appended BM25 index back to the base layout:
    postings merge into ``ingest_batch_id=-1``, df deltas re-total to
    one row per term, stats rows to one. Reads only the STORE (never
    corpus text). The compacted index, its ``_bm25_meta`` and the
    stream marker ``stream_maintain_bm25_index`` keeps in
    ``{path}/postings`` are staged whole and published once
    (``sources.manifest.staged_store``; stopped-writer contract)."""
    cur, commit = store_layout(spark, path)
    postings = spark.read.parquet(f"{cur}/postings").drop("ingest_batch_id")
    dft = (
        spark.read.parquet(f"{cur}/dft")
        .groupBy("tok_bucket", "tok")
        .agg(F.sum("df").cast("bigint").alias("df"))
    )
    stats = spark.read.parquet(f"{cur}/_bm25_stats").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("sum_dl").cast("bigint").alias("sum_dl"),
    )
    with staged_store(spark, path, commit) as staged:
        postings.write.partitionBy("tok_bucket").mode("overwrite").parquet(
            f"{staged}/postings/ingest_batch_id=-1"
        )
        dft.write.partitionBy("tok_bucket").mode("overwrite").parquet(
            f"{staged}/dft/ingest_batch_id=-1"
        )
        stats.coalesce(1).write.mode("overwrite").parquet(
            f"{staged}/_bm25_stats/ingest_batch_id=-1"
        )
        _carry(spark, cur, staged, "_bm25_meta", "postings/_ingest_stream")


def bm25_topk_indexed(
    spark,
    path: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    before_batch: int | None = None,
    where=None,
    weights: dict | None = None,
) -> DataFrame:
    """Top-``k`` BM25 against a persisted index — NEVER touches corpus
    text: the probe reads only the query terms' postings buckets
    (directory-partition pruning on ``tok_bucket``), the |terms|-row
    df shard, and the per-batch stats rows. Bitwise the scan-form
    :func:`bm25_topk` answer (pinned in tests). Eager, snapshot-idf:
    see :func:`_bm25`. ``where`` (over the index's stored
    ``extra_cols``) is filtered retrieval: the predicate evaluates
    inside the pruned postings scan, restricting CANDIDATES while
    idf/avgdl stay corpus-wide — bitwise the scan form's ``where``
    (pinned). ``before_batch`` fences every read to the pre-append
    state.

    ``weights`` (``{term: w}``) is WEIGHTED-QUERY probing, bitwise
    the scan form's :func:`bm25_topk(weights=...)`: the term set is
    the weight keys (``query`` ignored for term extraction) and each
    term's contribution scales ``w * (idf * saturation)`` — the RM3
    serving path against the index."""
    return _bm25(
        _index_postings(spark, path, id_col, before_batch, where),
        _single_rows(query, weights), k, k1, b, id_col,
    )


def bm25_join_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    query_text_col: str = "text",
    query_id_col: str = "query_id",
    before_batch: int | None = None,
    where=None,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Batch retrieval against a persisted index — the indexed twin of
    :func:`bm25_join`: score a whole query batch reading ONLY the
    batch vocabulary's postings buckets, never corpus text. Same
    output and semantics as :func:`bm25_join` (pinned bitwise-equal).
    Eager, snapshot-idf: see :func:`_bm25`.

    ``weights`` is the WEIGHTED batch probe — the indexed twin of
    :func:`bm25_join(weights=...)`: a ``(query_id_col, term, weight)``
    relation giving each query its own weighted term set (``queries``
    is then ignored for term extraction; it may even be the weights
    relation itself), validated driver-side. Per-query output equals
    looping ``bm25_topk_indexed(weights=w_q)`` bitwise (pinned).

    Scale shape: the postings/df scans prune to the union of the query
    batch's term buckets at PLANNING time, because the query batch
    itself is collected to enumerate them (bounded-collect: the query
    WORKLOAD, not the corpus; a million-term batch is the point where
    :func:`bm25_join`'s full-scan form wins anyway). df deltas merge
    for these terms only; per-query top-k is the same spilling window
    as bm25_join. ``where`` is filtered retrieval over the index's
    stored ``extra_cols`` (candidates restricted in-scan, statistics
    corpus-wide), applied to the whole batch."""
    qrows, qid_type = _batch_rows(queries, weights, query_id_col, query_text_col)
    return _bm25(
        _index_postings(spark, path, id_col, before_batch, where),
        qrows, k, k1, b, id_col, query_id_col, qid_type,
    )


def bm25_topk_prf_indexed(
    spark,
    path: str,
    query: str,
    k: int = 10,
    fb_docs: int = 3,
    fb_terms: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    before_batch: int | None = None,
    where=None,
) -> DataFrame:
    """Two-pass PRF against a PERSISTED index — the serving form of
    :func:`bm25_topk_prf`, bitwise-equal to it (pinned): pass one is
    the bucket-pruned probe, the feedback term counts come from the
    index's own postings (tf summed over the feedback ids equals the
    scan form's explode-and-count exactly), and pass two probes the
    expanded term set. Corpus text is never read. ``where`` scopes
    both probes (the scan twin's contract); ``before_batch`` fences
    every read to the pre-append state."""
    return _two_pass(
        _index_postings(spark, path, id_col, before_batch, where),
        {0: _query_terms(query)}, k, fb_docs, fb_terms, None, k1, b, id_col,
    )


def bm25_topk_rm3_indexed(
    spark,
    path: str,
    query: str,
    k: int = 10,
    fb_docs: int = 3,
    fb_terms: int = 5,
    lam: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    before_batch: int | None = None,
    where=None,
) -> DataFrame:
    """Weighted RM3 against a PERSISTED index — the serving form of
    :func:`bm25_topk_rm3`, bitwise-equal to it (pinned): feedback term
    counts from the index's postings, the same truncate-then-
    renormalize weights over the kept vocabulary, and a weighted
    bucket-pruned probe. Corpus text is never read."""
    return _two_pass(
        _index_postings(spark, path, id_col, before_batch, where),
        {0: _query_terms(query)}, k, fb_docs, fb_terms, lam, k1, b, id_col,
    )


def bm25_join_prf_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    fb_docs: int = 3,
    fb_terms: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    query_text_col: str = "text",
    query_id_col: str = "query_id",
    before_batch: int | None = None,
    where=None,
) -> DataFrame:
    """Batch PRF against a PERSISTED index: pass one is ONE
    bucket-pruned batch probe, the per-query feedback term counts come
    from the index's own postings (one pruned read for the whole
    batch), and pass two probes the expanded batch. Corpus text is
    never read; per-query output is IDENTICAL to looping
    :func:`bm25_topk_prf_indexed` (pinned), which in turn equals the
    scan-form PRF."""
    orig = _collect_query_texts(queries, query_id_col, query_text_col)
    return _two_pass(
        _index_postings(spark, path, id_col, before_batch, where),
        orig, k, fb_docs, fb_terms, None, k1, b, id_col,
        query_id_col, queries.schema[query_id_col].dataType,
    )


def bm25_join_rm3_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    fb_docs: int = 3,
    fb_terms: int = 5,
    lam: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    query_text_col: str = "text",
    query_id_col: str = "query_id",
    before_batch: int | None = None,
    where=None,
) -> DataFrame:
    """Batch RM3 against a PERSISTED index: per-query RM3 weights from
    one pruned postings read for the whole batch, rescored in ONE
    weighted batch probe. Corpus text is never read; per-query output
    is IDENTICAL to looping :func:`bm25_topk_rm3_indexed` (pinned),
    which equals the scan-form RM3."""
    orig = _collect_query_texts(queries, query_id_col, query_text_col)
    return _two_pass(
        _index_postings(spark, path, id_col, before_batch, where),
        orig, k, fb_docs, fb_terms, lam, k1, b, id_col,
        query_id_col, queries.schema[query_id_col].dataType,
    )
