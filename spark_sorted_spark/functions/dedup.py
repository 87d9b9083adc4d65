"""Deduplication operators for training-data pipelines:

* exact dedup           — md5 fingerprint hash-groupBy
* n-gram Jaccard        — exact near-dup pairs via shingle self-join
* MinHash + LSH         — scale path: signature banding prunes the
                          candidate space from O(n^2) to colliding
                          buckets only, then exact verification
* SimHash               — 60-bit sign-random-projection sketch +
                          Hamming-distance pairs

All operators are pure Catalyst expressions (no Python UDFs) and use
portable md5-derived integer hashing so the DuckDB oracle reproduces
results bit-for-bit. Thresholds are compared in integer arithmetic
(``den*c >= num*(na+nb-c)``) — no float tolerance anywhere.

Scale design (100 TB corpus): the shingle explode is a flat map at
scan speed; the expensive step is the shingle/band self-join, whose
key cardinality (distinct shingles / band buckets) is what matters,
not document count. MinHash-LSH caps join fan-out at bucket size;
hot buckets (boilerplate shingles) are the skew risk — AQE skew-join
handles moderate cases, and ``max_bucket`` drops degenerate buckets
the way production dedup pipelines drop stop-shingles.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.manifest import (  # noqa: F401  (_rename, _swap_in: re-exported)
    _carry,
    _exists,
    _rename,
    _swap_in,
    batch_dir,
    resolve_root,
    staged_store,
    store_layout,
)
from .local_rows import local_rows_df
from .text import md5_int32, tokens


__all__ = [
    "exact_dedup",
    "dedup_normalize",
    "shingles",
    "ngram_jaccard_pairs",
    "jaccard_prefix_pairs",
    "jaccard_prefix_join",
    "contains_join",
    "ngram_overlap_across",
    "repeated_spans",
    "remove_repeated_spans",
    "build_gram_store",
    "append_to_gram_store",
    "compact_gram_store",
    "clean_against_gram_store",
    "minhash_signatures",
    "minhash_band_table",
    "minhash_lsh_pairs",
    "build_minhash_band_store",
    "append_to_minhash_band_store",
    "compact_minhash_band_store",
    "dedup_against_store",
    "simhash",
    "simhash_pairs",
    "simhash_pairs_banded",
    "spread_small_input",
    "MINHASH_PERMS",
    "MINHASH_PRIME",
]

# Fixed MinHash permutation parameters (seeded, embedded identically in
# the DuckDB oracle). h_i(x) = (a_i * x + b_i) mod P with x < 2^32,
# a_i < 2^30 => every intermediate < 2^62, safe in int64 for both
# engines.
MINHASH_PRIME = 4294967311  # smallest prime > 2^32
_rng = random.Random(20260813)
MINHASH_PERMS: list[tuple[int, int]] = [
    (_rng.randrange(1, 1 << 30) | 1, _rng.randrange(0, MINHASH_PRIME))
    for _ in range(16)
]
MINHASH_BANDS = 4  # 4 bands x 4 rows


def spread_small_input(df: DataFrame) -> DataFrame:
    """Ensure a CPU-heavy narrow stage has at least
    ``defaultParallelism`` partitions. A small parquet table arrives as
    one file => ONE scan partition, serializing per-document work (md5,
    16-perm MinHash, 32 hyperplane dots) onto a single core while the
    rest idle. At corpus scale inputs already have thousands of file
    splits and this is a no-op; the round-robin repartition only fires
    when partitions < cores, where the shuffle of the small input is
    noise next to the CPU it unlocks."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# Conservative punctuation class for near-exact normalization — the
# regex subset common to Java regex (Spark) and RE2-ish engines
# (DuckDB), so the oracle replays byte-for-byte.
_DEDUP_PUNCT = r"[.,!?;:'\"()\[\]{}]"


def dedup_normalize(col: Column | str) -> Column:
    """C4-style near-exact normalization: strip common punctuation,
    collapse whitespace runs, trim, lowercase — the canonical form
    under which "Hello, world!" and "hello world" are the same
    document. Pure Catalyst string expressions; the DuckDB twin is the
    same four functions, so normalized fingerprints are
    oracle-replayable."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(c, _DEDUP_PUNCT, ""), r"\s+", " "
            )
        )
    )


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = False,
) -> DataFrame:
    """Exact dedup via md5 content fingerprint: one hash-aggregate
    (map-side partial combine), keeps the smallest id per group.
    ``normalize=True`` fingerprints :func:`dedup_normalize`'s canonical
    form instead of the raw bytes — near-exact dedup (case /
    punctuation / whitespace variants collapse) at identical cost: the
    normalization is a per-row scan expression, the aggregate is
    unchanged."""
    content = F.col(text_col)
    if normalize:
        content = dedup_normalize(content)
    return (
        df.select(F.col(id_col), F.md5(content).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (empty array when
    the document has fewer than n tokens — guarded because Spark's
    ``sequence(1, k)`` with k < 1 would count *down*)."""
    toks = tokens(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))
    )


def _exploded_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    return df.select(
        F.col(id_col), F.explode(shingles(text_col, n)).alias("shingle")
    )


def _check_max_bucket(max_bucket, caller: str) -> None:
    """Centralized hot-bucket bound validation (round-14 review):
    ``max_bucket=0`` would drop EVERY bucket and silently report zero
    pairs — the silent-empty failure class the dim guards exist to
    prevent. ``None`` (exhaustive / unguarded) is always valid."""
    if max_bucket is not None and max_bucket < 1:
        raise ValueError(
            f"{caller}: max_bucket must be >= 1, got {max_bucket} "
            "(0 would drop every bucket and silently report zero pairs)"
        )


_VERIFY_SCOPES = ("auto", "corpus", "candidates")

_DEFAULT_BROADCAST_BYTES = 10 * 1024 * 1024


def _parse_byte_conf(raw) -> int:
    """Parse a Spark byte-string conf value (``10485760b``, ``10MB``,
    plain int, ...) into bytes. Unparseable values fall back to the
    10 MB default rather than raising — this only feeds a lossless
    plan choice, never an answer."""
    import re

    m = re.fullmatch(r"\s*(-?\d+)\s*([kmgtp]?i?b?)\s*", str(raw).lower())
    if not m:
        return _DEFAULT_BROADCAST_BYTES
    mult = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4, "p": 1024**5}
    return int(m.group(1)) * mult.get(m.group(2)[:1].rstrip("b"), 1)


def _resolve_verify_scope(
    df: DataFrame, text_col: str, id_col: str, scope: str, caller: str
) -> str:
    """Pick the exact-verify build form for the pair operators — both
    forms are LOSSLESS; this chooses on cost only (the same contract
    as ``_probably_has_hot_shingle``'s plan probe).

    ``corpus``: project every document's shingle set and join the
    candidate id pairs against it. Below
    ``spark.sql.autoBroadcastJoinThreshold`` the planner broadcasts
    that side, so the sets are built once per side inside the
    broadcast build and the verify pays zero extra scheduling
    barriers — the cheapest form for small relations (and the one the
    recorded bench plans pin).

    ``candidates``: materialize the candidate pairs
    (``localCheckpoint``) and semi-join the relation to the ids that
    actually appear in a pair BEFORE computing shingle sets. Costs a
    fixed extra barrier (~0.25 s measured at sf0.1) but makes the
    verify's compute AND shuffle bytes candidate-bounded: past the
    broadcast threshold the corpus form degrades into a full shuffle
    of per-document shingle ARRAYS on both join sides — a
    corpus-scale exchange of heavy payloads serving a
    candidate-bounded answer (guide §2.3/§3.1's wrong-side shape),
    which is exactly what a 100 TB corpus cannot afford.

    ``auto`` switches to ``candidates`` at the point the corpus form
    stops broadcasting, using the planner's size estimate of the
    ``(id, text)`` projection vs the session broadcast threshold — so
    for parquet-backed single-table inputs at bench/test scale the plan
    is byte-identical to the recorded ``corpus`` form, and the flip
    happens where the corpus form's cost model changes regime. The
    estimate is capped by the sum of the relation's leaf scans
    (``sizeInBytes`` over the optimized plan's leaves): a join's output
    estimate is the PRODUCT of its sides, so ``docs ⋈ exact_dedup(docs)``
    would read as corpus-squared while its rows are bounded by its
    scans (such a join resolves to ``corpus`` at sf0.001 and sf0.01).
    Relations the planner cannot estimate (RDD-backed leaves default
    to ``Long.MaxValue``) resolve to ``candidates`` — the conservative
    direction: when the size is unknown, take the form whose cost is
    bounded by the candidate set rather than the corpus."""
    if scope not in _VERIFY_SCOPES:
        raise ValueError(
            f"{caller}: verify_scope must be one of {_VERIFY_SCOPES}, "
            f"got {scope!r}"
        )
    if scope != "auto":
        return scope
    spark = df.sparkSession
    thr = _parse_byte_conf(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    )
    if thr <= 0:
        # auto-broadcast disabled: the corpus form is in the shuffle
        # regime at ANY size; keep the broadcast-threshold default as
        # the cheap/heavy crossover
        thr = _DEFAULT_BROADCAST_BYTES
    plan = (
        df.select(F.col(id_col), F.col(text_col))
        ._jdf.queryExecution()
        .optimizedPlan()
    )
    leaves = plan.collectLeaves()
    est = min(
        int(plan.stats().sizeInBytes()),
        sum(
            int(leaves.apply(i).stats().sizeInBytes())
            for i in range(leaves.size())
        ),
    )
    return "candidates" if est > thr else "corpus"


def _verify_side_sets(
    df: DataFrame,
    cand: DataFrame,
    pair_col: str,
    id_col: str,
    text_col: str,
    n: int,
    scope: str,
    out_col: str,
) -> DataFrame:
    """One side's ``(pair_col, shingle set)`` relation for the exact
    verify. Under ``candidates`` scope the relation is first
    semi-joined to the ids present in the (checkpointed) candidate
    table, so shingle arrays are computed only for documents that
    appear in some pair — the inner join against ``cand`` keeps
    exactly those rows either way, hence bitwise-identical output."""
    if scope == "candidates":
        df = df.join(
            cand.select(F.col(pair_col).alias(id_col)),
            on=id_col,
            how="leftsemi",
        )
    return df.select(
        F.col(id_col).alias(pair_col), shingles(text_col, n).alias(out_col)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    tau_num: int = 1,
    tau_den: int = 2,
    max_bucket: int | None = 50,
    verify_scope: str = "auto",
) -> DataFrame:
    """Near-duplicate pairs: documents whose distinct-shingle Jaccard
    >= tau_num/tau_den, via shingle-collision candidates + exact
    verify. Integer threshold ``tau_den*c >= tau_num*(na+nb-c)``.

    ``verify_scope`` picks the exact-verify build form (lossless
    either way — see :func:`_resolve_verify_scope`): ``corpus``
    projects every document's shingle set, ``candidates`` bounds the
    verify to documents that appear in a candidate pair, ``auto``
    (default) switches at the broadcast threshold.

    Fan-out guard (mirrors ``minhash_lsh_pairs``): shingles shared by
    more than ``max_bucket`` documents are excluded from CANDIDATE
    generation — one boilerplate shingle would otherwise create an
    unbounded O(bucket^2) self-join blow-up. (Measured dead end, do
    not retry: replacing the groupBy+join guard with a
    ``count() over (partition by shingle)`` window "to save a pass"
    is 3.5x SLOWER at sf0.1 — WindowExec sorts and buffers every
    exploded row, while the groupBy partial-aggregates map-side into
    a tiny bucket-size table that joins back as a broadcast.)

    Verification still uses the FULL shingle sets (``array_intersect``
    on the per-document arrays), so any emitted pair's Jaccard is exact; only pairs whose
    every common shingle is hot can be missed — the same deliberate
    trade production dedup pipelines make when dropping stop-shingles.
    Pass ``max_bucket=None`` for the exhaustive O(sum bucket^2)
    baseline."""
    _check_max_bucket(max_bucket, "ngram_jaccard_pairs")
    scope = _resolve_verify_scope(
        df, text_col, id_col, verify_scope, "ngram_jaccard_pairs"
    )
    df = spread_small_input(df)
    sh = _exploded_shingles(df, text_col, id_col, n)
    if max_bucket is not None:
        small = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("sn"))
            .filter(F.col("sn") <= max_bucket)
            .drop("sn")
        )
        sh = sh.join(small, on="shingle")
    a = sh.alias("a")
    b = sh.alias("b")
    cand = (
        a.join(b, on="shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    # AQE coalesces the tiny id-pair shuffle to ~1 partition, which
    # would serialize the array_intersect verify; re-spread explicitly
    cand = cand.repartition(df.sparkSession.sparkContext.defaultParallelism)
    if scope == "candidates":
        cand = cand.localCheckpoint(eager=True)
    sa = _verify_side_sets(df, cand, "doc_a", id_col, text_col, n, scope, "sh_a")
    sb = _verify_side_sets(df, cand, "doc_b", id_col, text_col, n, scope, "sh_b")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_a", F.size("sh_a"))
        .withColumn("n_b", F.size("sh_b"))
        .filter(
            F.lit(tau_den) * F.col("n_common")
            >= F.lit(tau_num) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
    )


def _probably_has_hot_shingle(
    df: DataFrame, text_col: str, n: int, threshold: int,
    sample_fraction: float = 0.001,
) -> bool:
    """Cheap seeded-sample probe for the self-join's plan choice: does
    any shingle PLAUSIBLY exceed ``threshold`` document frequency? A
    genuinely hot shingle (df >= threshold) shows ~threshold x
    fraction sampled hits — unmissable at the default threshold
    (100k x 0.001 = ~100); the trigger uses a 2x safety margin for
    borderline keys. Cost is ~fraction of one shingle aggregate.
    Both candidate plans are lossless; this probe only picks the
    cheaper one, so a wrong guess costs time, never answers."""
    est = (
        df.sample(fraction=sample_fraction, seed=42)
        .select(F.explode(shingles(text_col, n)).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("m"))
        .first()
    )
    m = (est["m"] if est is not None else None) or 0
    return (m / sample_fraction) > threshold / 2


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    tau_num: int = 1,
    tau_den: int = 2,
    hot_shingle_rows: int | None = 100_000,
    hot_salt: int = 16,
    hot_probe_fraction: float = 0.001,
    verify_scope: str = "auto",
) -> DataFrame:
    """LOSSLESS near-duplicate pairs via prefix filtering (AllPairs /
    PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08):
    returns EXACTLY the pairs with distinct-shingle Jaccard >=
    tau_num/tau_den — same output as the exhaustive
    ``ngram_jaccard_pairs(max_bucket=None)`` baseline, unlike the
    ``max_bucket``/LSH paths which can miss pairs.

    Why it's subquadratic anyway: order every document's shingles by a
    single global total order (corpus document-frequency asc, shingle
    asc — rarest first). If Jaccard(A,B) >= t then
    ``|A∩B| >= ceil(t·max(|A|,|B|))``, and by the prefix lemma the
    first ``|X| - ceil(t·|X|) + 1`` shingles of each side must share
    at least one element — so candidates are generated only from these
    short, rare-first prefixes (at t=1/2, half a document's shingles;
    the rarest half, so collisions are few). Three further LOSSLESS
    prunes run before the distinct (all standard PPJoin lemmas,
    measured 3.3x fewer candidates on the sf0.1 corpus):

    - size filter: ``tau_num·max(na,nb) <= tau_den·min(na,nb)``
      (implied by J >= t);
    - index prefix: orient each colliding pair so the (nsh, id)-
      smaller doc is the "index" side; its collision must fall in the
      SHORTER prefix ``|y| - ceil(2t/(1+t)·|y|) + 1`` (valid because
      the partner is at least as large, so the required overlap
      ``alpha = ceil(t/(1+t)·(na+nb)) >= ceil(2t/(1+t)·|y|)``);
    - positional filter: a collision at ordered positions (ra, rb)
      caps the achievable overlap at ``1 + min(na-ra, nb-rb)``; prune
      if that is below alpha. The FIRST common shingle of a truly
      qualifying pair sits inside both alpha-prefixes and survives,
      so the pair always reaches the verifier.

    Verification then computes exact Jaccard on the full shingle
    sets, identical to ``ngram_jaccard_pairs``.

    All-integer thresholds: ``ceil(t·s) = (tau_num·s + tau_den - 1)
    DIV tau_den`` — no floats, so the DuckDB oracle (which replays the
    brute-force DEFINITION, not this algorithm) matches bit-for-bit.

    Scale shape (100 TB): one df-count aggregate over exploded
    shingles (map-side combine), one per-document sort (window keyed
    by document — state bounded by document length), one equi-join on
    prefix shingles whose fan-out is bounded by prefix-bucket sizes
    (rare shingles by construction), candidates carry ids only, exact
    verify on candidates only. Truly identical-document groups still
    collide (they must — the answer contains all their pairs), so run
    :func:`exact_dedup` first to collapse verbatim copies, as the
    clean-corpus pipeline does.

    SKEW (``hot_shingle_rows`` / ``hot_salt``): a shingle that stays
    hot even after rare-first ranking puts its whole bucket into ONE
    shuffle partition of the candidate self-join, and AQE's skew-join
    splitter canNOT rescue it — measured on this Spark build: a
    self-join is skewed on BOTH sides in the SAME partitions, a shape
    ``OptimizeSkewedJoin`` skips (and even the one-sided R-S form did
    not engage; tools/skew_probe evidence in PARITY.md). So the split
    is done explicitly and LOSSLESSLY: shingles whose corpus document
    frequency exceeds ``hot_shingle_rows`` (exact detection — ``dfreq``
    is already computed; df upper-bounds the prefix bucket) take a
    block-salted path where side A keeps one block ``hash(id) %
    hot_salt`` and side B is replicated to all ``hot_salt`` blocks —
    every ordered pair still meets EXACTLY once, now spread over
    ``hot_salt`` partitions per hot shingle. Cold shingles keep the
    plain (exchange-reused) join. Because the two-path PLAN costs ~2x
    the single-path plan when no hot key exists (measured at sf0.1),
    a ``hot_probe_fraction`` seeded-sample probe picks the plan
    driver-side first — both plans are lossless, so the probe decides
    cost only. ``hot_shingle_rows=None`` disables everything (no
    probe job); the default never triggers at test scale so the
    oracle-gated construction is byte-identical.
    """
    from pyspark.sql import Window

    if not (0 < tau_num <= tau_den):
        raise ValueError(
            f"threshold must satisfy 0 < tau_num <= tau_den, got "
            f"{tau_num}/{tau_den}"
        )
    scope = _resolve_verify_scope(
        df, text_col, id_col, verify_scope, "jaccard_prefix_pairs"
    )
    df = spread_small_input(df)
    # Explode WITHOUT materializing the shingle array as a filtered
    # column: Filter(size(sh) > 0) over Project(sh) makes Catalyst
    # inline the whole shingles() expression into the pushed-down
    # predicate, evaluating the (array_distinct-quadratic) expression
    # repeatedly per row — measured 8x slower at sf0.1 (0.47 s -> 3.73 s
    # for the bare select). explode() drops empty arrays natively, and
    # nsh is recovered by an unordered count window that shares the
    # rn window's exchange, so the fast path loses nothing.
    ex = df.select(F.col(id_col), F.explode(shingles(text_col, n)).alias("shingle"))
    dfreq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    # (sdf, shingle) is a TOTAL order within a document (shingles are
    # distinct), so row_number is deterministic in both engines
    w_doc = Window.partitionBy(id_col)
    w = Window.partitionBy(id_col).orderBy("sdf", "shingle")
    prefix_len = (
        F.col("nsh")
        - F.expr(f"({tau_num} * nsh + {tau_den - 1}) DIV {tau_den}")
        + F.lit(1)
    )
    pref = (
        ex.join(dfreq, on="shingle")
        .withColumn("nsh", F.count(F.lit(1)).over(w_doc))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select(id_col, "nsh", "shingle", "rn")
    )
    # DataFrame aliases (not pre-renamed columns) keep the two join
    # children plan-identical, so the prefix subtree's exchange is
    # computed once and reused (same pattern as ngram_jaccard_pairs).
    # The index-prefix cut is applied POST-join for the same reason:
    # pre-filtering one side to the shorter prefix would desymmetrize
    # the children and force the subtree to compute twice.
    a = pref.alias("a")
    b = pref.alias("b")
    na, nb = F.col("a.nsh"), F.col("b.nsh")
    ra, rb = F.col("a.rn"), F.col("b.rn")
    # orient: a is the (nsh, id)-smaller "index" side, b the "probe"
    oriented = (na < nb) | (
        (na == nb) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    tsum = tau_num + tau_den
    # index prefix: ra <= na - ceil(2t/(1+t)*na) + 1, integer form
    index_prefix = ra <= na - F.expr(
        f"(2 * {tau_num} * a.nsh + {tsum - 1}) DIV {tsum}"
    ) + F.lit(1)
    # alpha = ceil(t/(1+t) * (na+nb)): the minimum overlap J >= t needs
    alpha = F.expr(f"({tau_num} * (a.nsh + b.nsh) + {tsum - 1}) DIV {tsum}")
    positional = F.lit(1) + F.least(na - ra, nb - rb) >= alpha
    size_ok = F.lit(tau_num) * nb <= F.lit(tau_den) * na

    def _pairs_of(joined: DataFrame) -> DataFrame:
        return joined.filter(
            oriented & size_ok & index_prefix & positional
        ).select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias(
                "doc_b"
            ),
        )

    if (
        hot_shingle_rows is not None
        and hot_salt > 1
        and _probably_has_hot_shingle(
            df, text_col, n, hot_shingle_rows, hot_probe_fraction
        )
    ):
        # hot split (see docstring): the two-path plan costs ~2x the
        # plain join when NO hot key exists (the prefix subtree
        # appears in both branches; only parts reuse), so a cheap
        # sampled driver-side probe picks the plan — both plans are
        # lossless, the probe only chooses on cost. Once chosen, the
        # DETECTION set is exact (full dfreq, already computed); the
        # hot-key set is bounded (<= shingle rows / threshold), so the
        # flag join broadcasts.
        hot_keys = F.broadcast(
            dfreq.filter(F.col("sdf") > hot_shingle_rows)
            .select("shingle")
            .withColumn("__hot", F.lit(True))
        )
        flagged = pref.join(hot_keys, on="shingle", how="left")
        cold = flagged.filter(F.col("__hot").isNull()).drop("__hot")
        hotp = flagged.filter(F.col("__hot").isNotNull()).drop("__hot")
        ha = hotp.withColumn(
            "__blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(hot_salt))
        )
        hb = hotp.withColumn(
            "__blk", F.explode(F.sequence(F.lit(0), F.lit(hot_salt - 1)))
        )
        cand = (
            _pairs_of(cold.alias("a").join(cold.alias("b"), on="shingle"))
            .unionByName(
                _pairs_of(
                    ha.alias("a").join(hb.alias("b"), on=["shingle", "__blk"])
                )
            )
            .distinct()
        )
    else:
        cand = _pairs_of(a.join(b, on="shingle")).distinct()
    # AQE coalesces the tiny id-pair shuffle to ~1 partition, which
    # would serialize the array_intersect verify; re-spread explicitly
    cand = cand.repartition(df.sparkSession.sparkContext.defaultParallelism)
    if scope == "candidates":
        cand = cand.localCheckpoint(eager=True)
    sa = _verify_side_sets(df, cand, "doc_a", id_col, text_col, n, scope, "sh_a")
    sb = _verify_side_sets(df, cand, "doc_b", id_col, text_col, n, scope, "sh_b")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_a", F.size("sh_a"))
        .withColumn("n_b", F.size("sh_b"))
        .filter(
            F.lit(tau_den) * F.col("n_common")
            >= F.lit(tau_num) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
    )


def jaccard_prefix_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    tau_num: int = 1,
    tau_den: int = 2,
    hot_salt: int = 8,
    verify_scope: str = "auto",
) -> DataFrame:
    """Cross-corpus (R-S) form of :func:`jaccard_prefix_pairs`:
    EXACTLY the (left, right) document pairs with distinct-shingle
    Jaccard >= tau_num/tau_den — the LOSSLESS decontamination join.
    ``ngram_overlap_across`` counts common shingles with a
    ``max_bucket`` fan-out guard that deliberately ignores ubiquitous
    shingles; this join misses nothing at its threshold, so it is the
    "prove the training corpus is clean at J >= t" primitive rather
    than the cheap screening pass. Returns
    ``(left_id, right_id, n_common, n_left, n_right)``.

    Same AllPairs/PPJoin lemmas as the self-join, adapted to two
    relations:

    - ONE global shingle order shared by both sides — document
      frequency over the RIGHT relation only (asc, shingle asc;
      shingles absent from the right count 0). Any shared total order
      is correct; this one is chosen for the asymmetric decontamination
      shape where right is the small benchmark: the frequency
      aggregate never touches the big corpus, and corpus shingles the
      benchmark lacks sort FIRST (count 0) — they fill the corpus
      prefix budget while being incapable of colliding, so they are
      dropped from candidate generation outright (lossless: a
      shingle-equijoin row needs the shingle on both sides) and most
      corpus documents contribute nothing to the candidate shuffle;
    - each side keeps only its basic prefix
      ``|X| - ceil(t·|X|) + 1``; candidates come from prefix-prefix
      shingle collisions only;
    - size filter in BOTH directions (no orientation exists:
      pair identity is (left, right), not an unordered pair);
    - the mid-prefix cut applies to whichever side of the pair is
      smaller (``alpha >= ceil(2t/(1+t)·min(nl,nr))``), via
      ``when(nl <= nr, ...)`` rather than the self-join's (nsh, id)
      orientation — ties are safe because ``nl == nr`` makes the
      bound valid for either side;
    - positional filter unchanged.

    Thresholds are practical down to ~1/10 (typical decontamination
    bars); the prefix shrinks as t grows, so LOW thresholds cost more
    candidates — that trade is fundamental to lossless joins, and the
    screening pass (``ngram_overlap_across``) remains the right first
    filter at 100 TB, with this join run on its survivors when an
    exact guarantee is required.

    SKEW (``hot_salt``): a shingle shared by a large corpus bucket
    lands that whole bucket in ONE candidate-join task, and AQE's skew
    splitter measurably does not engage on this join (PARITY.md skew
    adjudication). The asymmetric shape admits an always-on lossless
    fix with no detection pass: the candidate join keys on
    ``(shingle, blk)`` where each LEFT (corpus) prefix row keeps one
    block ``hash(left_id) % hot_salt`` and each RIGHT (benchmark)
    prefix row is replicated to all ``hot_salt`` blocks — every
    (left, right) pair still meets exactly once, every bucket is
    split ``hot_salt`` ways, and the replication cost is ``hot_salt``
    x the SMALL side's prefix rows only. AQE coalesces the resulting
    small partitions back together. ``hot_salt=1`` restores the plain
    join.
    """
    from pyspark.sql import Window

    if not (0 < tau_num <= tau_den):
        raise ValueError(
            f"threshold must satisfy 0 < tau_num <= tau_den, got "
            f"{tau_num}/{tau_den}"
        )
    # scope decided on the LEFT relation (the decontamination shape's
    # big corpus side); `candidates` bounds BOTH verify sides
    scope = _resolve_verify_scope(
        left, text_col, id_col, verify_scope, "jaccard_prefix_join"
    )
    left = spread_small_input(left)
    right = spread_small_input(right)
    # explode() (not a filtered array column) for the same
    # Catalyst-inlining reason documented in jaccard_prefix_pairs
    exl = left.select(
        F.col(id_col).alias("left_id"),
        F.explode(shingles(text_col, n)).alias("shingle"),
    )
    exr = right.select(
        F.col(id_col).alias("right_id"),
        F.explode(shingles(text_col, n)).alias("shingle"),
    )
    dfreq = exr.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))

    def prefix_table(ex: DataFrame, idc: str) -> DataFrame:
        w_doc = Window.partitionBy(idc)
        w = Window.partitionBy(idc).orderBy("sdf", "shingle")
        prefix_len = (
            F.col("nsh")
            - F.expr(f"({tau_num} * nsh + {tau_den - 1}) DIV {tau_den}")
            + F.lit(1)
        )
        return (
            # left join + coalesce 0: the shared order must rank every
            # shingle, including corpus shingles the benchmark lacks
            ex.join(dfreq, on="shingle", how="left")
            .withColumn("sdf", F.coalesce("sdf", F.lit(0)))
            .withColumn("nsh", F.count(F.lit(1)).over(w_doc))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= prefix_len)
            # sdf = 0 rows hold prefix positions (rn is computed) but
            # can never equijoin — drop them before the shuffle
            .filter(F.col("sdf") > 0)
            .select(idc, "nsh", "shingle", "rn")
        )

    pl = prefix_table(exl, "left_id")
    pr = prefix_table(exr, "right_id")
    if hot_salt > 1:
        # always-on block salt (see docstring): corpus rows keep one
        # block, benchmark rows replicate to all blocks — pair meets
        # exactly once, buckets split hot_salt ways
        pl = pl.withColumn(
            "__blk", F.pmod(F.xxhash64(F.col("left_id")), F.lit(hot_salt))
        )
        pr = pr.withColumn(
            "__blk", F.explode(F.sequence(F.lit(0), F.lit(hot_salt - 1)))
        )
        join_on = ["shingle", "__blk"]
    else:
        join_on = ["shingle"]
    a = pl.alias("a")
    b = pr.alias("b")
    nl, nr = F.col("a.nsh"), F.col("b.nsh")
    rl, rr = F.col("a.rn"), F.col("b.rn")
    tsum = tau_num + tau_den
    size_ok = (F.lit(tau_num) * F.greatest(nl, nr)) <= (
        F.lit(tau_den) * F.least(nl, nr)
    )
    mid_a = rl <= nl - F.expr(
        f"(2 * {tau_num} * a.nsh + {tsum - 1}) DIV {tsum}"
    ) + F.lit(1)
    mid_b = rr <= nr - F.expr(
        f"(2 * {tau_num} * b.nsh + {tsum - 1}) DIV {tsum}"
    ) + F.lit(1)
    mid_prefix = F.when(nl <= nr, mid_a).otherwise(mid_b)
    alpha = F.expr(f"({tau_num} * (a.nsh + b.nsh) + {tsum - 1}) DIV {tsum}")
    positional = F.lit(1) + F.least(nl - rl, nr - rr) >= alpha
    cand = (
        a.join(b, on=join_on)
        .filter(size_ok & mid_prefix & positional)
        .select("left_id", "right_id")
        .distinct()
    )
    cand = cand.repartition(left.sparkSession.sparkContext.defaultParallelism)
    if scope == "candidates":
        cand = cand.localCheckpoint(eager=True)
    sl = _verify_side_sets(
        left, cand, "left_id", id_col, text_col, n, scope, "sh_l"
    )
    sr = _verify_side_sets(
        right, cand, "right_id", id_col, text_col, n, scope, "sh_r"
    )
    return (
        cand.join(sl, "left_id")
        .join(sr, "right_id")
        .withColumn("n_common", F.size(F.array_intersect("sh_l", "sh_r")))
        .withColumn("n_left", F.size("sh_l"))
        .withColumn("n_right", F.size("sh_r"))
        .filter(
            F.lit(tau_den) * F.col("n_common")
            >= F.lit(tau_num)
            * (F.col("n_left") + F.col("n_right") - F.col("n_common"))
        )
        .select("left_id", "right_id", "n_common", "n_left", "n_right")
    )


def contains_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    short_docs: str = "drop",
    verify_scope: str = "auto",
) -> DataFrame:
    """Token-aligned VERBATIM containment join — the exact-leak form of
    decontamination: ``(left_id, right_id)`` pairs where RIGHT's
    whitespace token sequence appears contiguously inside LEFT's
    (benchmark prompt copied verbatim into a training document). The
    Jaccard joins measure set overlap; a short prompt pasted into a
    long document has LOW Jaccard yet is the worst kind of leak — this
    operator catches exactly that.

    Containment is TOKEN-aligned, not raw-character (`` cat `` inside
    `` concat `` does not match): both sides are normalized to
    ``" tok tok ... "`` (single spaces, sentinel-padded) and matched
    with ``contains`` — byte-equal semantics in DuckDB, so the oracle
    is the brute-force cross-join DEFINITION, independent of this
    algorithm.

    LOSSLESS single-probe construction: if RIGHT's token sequence
    (length >= ``n``) is contained in LEFT, then EVERY word ``n``-gram
    of RIGHT is in LEFT's shingle set — in particular RIGHT's
    corpus-RAREST one. So:

    1. one map-side-combined aggregate computes each shingle's corpus
       document frequency (the same aggregate the self near-dup ops
       run);
    2. each right doc picks its df-minimal shingle (ties by shingle)
       as its single PROBE; a right doc with any shingle ABSENT from
       the corpus is dropped outright — it cannot be contained
       anywhere (the strongest prune, free);
    3. candidates are ``corpus shingles ⋈ broadcast(probes)`` — one
       probe row per right doc, so the join BROADCASTS and the corpus
       is never shuffled for candidate generation; each right doc's
       fan-out is the MINIMAL achievable for single-shingle probing
       (its rarest shingle's df);
    4. the exact ``contains`` verify runs on candidates only.

    Right docs with fewer than ``n`` tokens have no shingles; with the
    default ``short_docs="drop"`` they are EXCLUDED (the zero-cost
    contract). ``short_docs="probe"`` adds the dedicated short-text
    pass: those docs probe by their min-corpus-df TOKEN instead (same
    lemma one level down — a contained token sequence's every token is
    in the container's token set), at the cost of one extra
    corpus-token aggregate. Fan-out is the min token df, which for
    1-2-token fragments can legitimately be large — that is the
    answer's size, not a plan artifact.

    Scale: aggregate shuffle is (shingle, count) with map-side
    combine; candidate generation is a broadcast hash join on the
    corpus scan (no corpus shuffle, no skew surface — fan-out per
    right doc is its min-df, and a right doc whose EVERY shingle is
    corpus-hot is itself evidence of boilerplate worth special-casing);
    the verify joins full texts for candidate ids only.

    ``verify_scope`` (see :func:`_resolve_verify_scope`, decided on
    LEFT): under ``candidates`` the normalized-text verify relations
    are semi-joined to the candidate ids first, so past the broadcast
    threshold the verify never broadcasts/shuffles corpus-wide text.
    """
    # the verify here carries normalized TEXT (not shingle arrays);
    # same corpus-vs-candidate-bounded trade, same resolver
    scope = _resolve_verify_scope(
        left, text_col, id_col, verify_scope, "contains_join"
    )
    left = spread_small_input(left)
    right = spread_small_input(right)
    exl = left.select(
        F.col(id_col).alias("left_id"),
        F.explode(shingles(text_col, n)).alias("shingle"),
    )
    dfreq = exl.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    exr = right.select(
        F.col(id_col).alias("right_id"),
        F.explode(shingles(text_col, n)).alias("shingle"),
    )
    probes = (
        exr.join(dfreq, on="shingle", how="left")
        .groupBy("right_id")
        .agg(
            F.min(
                F.struct(
                    F.coalesce("sdf", F.lit(0)).alias("sdf"),
                    F.col("shingle").alias("shingle"),
                )
            ).alias("m")
        )
        .filter(F.col("m.sdf") > 0)
        .select("right_id", F.col("m.shingle").alias("shingle"))
    )
    cand = exl.join(F.broadcast(probes), on="shingle").select(
        "left_id", "right_id"
    )

    if short_docs == "probe":
        # 1..n-1-token right docs: probe by min-corpus-df TOKEN (same
        # construction one level down). The corpus-token aggregate only
        # exists in this mode.
        exlt = left.select(
            F.col(id_col).alias("left_id"),
            F.explode(F.array_distinct(tokens(text_col))).alias("token"),
        )
        tfreq = exlt.groupBy("token").agg(F.count(F.lit(1)).alias("tdf"))
        exrt = (
            right.filter(
                (F.size(tokens(text_col)) < n)
                & (F.size(tokens(text_col)) >= 1)
                & (F.trim(F.col(text_col)) != "")
            )
            .select(
                F.col(id_col).alias("right_id"),
                F.explode(F.array_distinct(tokens(text_col))).alias("token"),
            )
        )
        short_probes = (
            exrt.join(tfreq, on="token", how="left")
            .groupBy("right_id")
            .agg(
                F.min(
                    F.struct(
                        F.coalesce("tdf", F.lit(0)).alias("tdf"),
                        F.col("token").alias("token"),
                    )
                ).alias("m")
            )
            .filter(F.col("m.tdf") > 0)
            .select("right_id", F.col("m.token").alias("token"))
        )
        cand_short = exlt.join(F.broadcast(short_probes), on="token").select(
            "left_id", "right_id"
        )
        cand = cand.unionByName(cand_short)
    elif short_docs != "drop":
        raise ValueError(
            f"short_docs must be 'drop' or 'probe', got {short_docs!r}"
        )

    def norm(c: Column) -> Column:
        return F.concat(F.lit(" "), F.concat_ws(" ", tokens(c)), F.lit(" "))

    # AQE would coalesce the small candidate id-pair set onto few
    # partitions and serialize the contains verify — re-spread, as the
    # other candidate-verify pipelines do
    cand = cand.repartition(left.sparkSession.sparkContext.defaultParallelism)
    lsrc, rsrc = left, right
    if scope == "candidates":
        cand = cand.localCheckpoint(eager=True)
        lsrc = left.join(
            cand.select(F.col("left_id").alias(id_col)),
            on=id_col,
            how="leftsemi",
        )
        rsrc = right.join(
            cand.select(F.col("right_id").alias(id_col)),
            on=id_col,
            how="leftsemi",
        )
    tl = lsrc.select(
        F.col(id_col).alias("left_id"), norm(F.col(text_col)).alias("__tl")
    )
    tr = rsrc.select(
        F.col(id_col).alias("right_id"), norm(F.col(text_col)).alias("__tr")
    )
    return (
        cand.join(tl, "left_id")
        .join(tr, "right_id")
        .filter(F.contains(F.col("__tl"), F.col("__tr")))
        .select("left_id", "right_id")
    )


def _with_minhash_array(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, mh) where ``mh[i] = min over shingles of
    (a_i * h32(shingle) + b_i) mod P`` — the 16-perm signature as an
    explode + 16 NATIVE ``min`` aggregates. The mins are whole-stage
    codegen'd (measured ~5x the interpreted higher-order
    ``array_min(transform(...))`` form this replaced, bitwise-equal
    output); the groupBy shuffle is negligible because each document's
    shingles sit in one row, so partial aggregation collapses to a
    single 16-long row per document map-side. Documents with no
    shingles (< n tokens) are dropped — they can't near-dup by shingle
    overlap anyway."""
    ex = df.select(
        F.col(id_col), F.explode(shingles(text_col, n)).alias("__sh")
    ).select(F.col(id_col), md5_int32(F.col("__sh")).alias("__h32"))
    # generated-SQL aggregates (one F.expr each + one for the array)
    # instead of per-node Column construction: the py4j round-trips of
    # the Column form cost real driver wall-clock per call (same
    # lesson as the b13 plane literals and the r7 simhash fix);
    # SQL `%` on nonnegative ints == the Column `%` — bitwise-equal
    agg = ex.groupBy(id_col).agg(
        *[
            F.expr(f"min(({a} * __h32 + {b}) % {MINHASH_PRIME}) AS __m{i}")
            for i, (a, b) in enumerate(MINHASH_PERMS)
        ]
    )
    arr = ", ".join(f"__m{i}" for i in range(len(MINHASH_PERMS)))
    return agg.select(F.col(id_col), F.expr(f"array({arr}) AS mh"))


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-document MinHash signature in long form (id, perm, minhash)
    — a posexplode view over the array-native signature."""
    sig = _with_minhash_array(df, text_col, id_col, n)
    return sig.select(
        F.col(id_col), F.posexplode("mh").alias("perm", "minhash")
    )


def minhash_band_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, band, band_key): the banded 16-perm MinHash signature —
    band ``b`` holds perms {b, b+BANDS, ...} (perm % BANDS == b),
    joined ascending, matching the oracle's ``string_agg(... ORDER BY
    perm)``. This is the unit both the self-dedup
    (:func:`minhash_lsh_pairs`) and the incremental store
    (:func:`build_minhash_band_store`) band on."""
    sig = _with_minhash_array(df, text_col, id_col, n)
    rows_per_band = len(MINHASH_PERMS) // MINHASH_BANDS
    structs = ", ".join(
        "named_struct('band', {b}, 'band_key', concat_ws('-', {keys}))".format(
            b=b,
            keys=", ".join(
                f"cast(mh[{b + MINHASH_BANDS * r}] as string)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(MINHASH_BANDS)
    )
    # one generated-SQL explode instead of ~50 py4j Column calls
    return sig.select(
        F.col(id_col), F.expr(f"explode(array({structs})) AS bb")
    ).select(id_col, "bb.band", "bb.band_key")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    tau_num: int = 1,
    tau_den: int = 2,
    max_bucket: int = 50,
    verify_scope: str = "auto",
) -> DataFrame:
    """MinHash-LSH near-dup pairs: band the 16-perm signature into 4
    bands of 4; documents colliding on any band's full sub-signature
    become candidates; candidates are verified with the EXACT
    distinct-shingle Jaccard (so output precision is 1.0 — LSH only
    affects recall). Buckets larger than ``max_bucket`` are dropped
    (degenerate boilerplate guard, keeps worst-case fan-out bounded).
    ``verify_scope`` picks the verify build form (lossless either way;
    see :func:`_resolve_verify_scope`).
    """
    _check_max_bucket(max_bucket, "minhash_lsh_pairs")
    scope = _resolve_verify_scope(
        df, text_col, id_col, verify_scope, "minhash_lsh_pairs"
    )
    df = spread_small_input(df)
    # materialize the band table ONCE: it feeds the bucket-size guard
    # AND both sides of the candidate self-join, and its lineage is
    # the whole md5/min-aggregate signature build — without this the
    # signatures are computed three times (profiled round 6: 2.7 s ->
    # 1.8 s at sf0.1). Scale-sound because bands are ~4 short rows
    # per document, orders of magnitude smaller than the text they
    # index (unlike the exploded shingle table, which is
    # corpus-sized — ngram_jaccard_pairs deliberately recomputes it).
    bands = minhash_band_table(df, text_col, id_col, n).localCheckpoint(
        eager=True
    )
    small = (
        bands.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") <= max_bucket)
        .drop("bn")
    )
    bands = bands.join(small, on=["band", "band_key"])
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, on=["band", "band_key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    # see ngram_jaccard_pairs: keep the CPU-heavy exact verify spread
    # across cores despite AQE's bytes-based coalescing
    cand = cand.repartition(df.sparkSession.sparkContext.defaultParallelism)
    if scope == "candidates":
        cand = cand.localCheckpoint(eager=True)
    sa = _verify_side_sets(df, cand, "doc_a", id_col, text_col, n, scope, "sh_a")
    sb = _verify_side_sets(df, cand, "doc_b", id_col, text_col, n, scope, "sh_b")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_a", F.size("sh_a"))
        .withColumn("n_b", F.size("sh_b"))
        .filter(
            F.lit(tau_den) * F.col("n_common")
            >= F.lit(tau_num) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
    )


def build_minhash_band_store(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    commit: str = "rename",
) -> None:
    """Persist the banded MinHash signature table for a corpus — the
    INCREMENTAL-dedup store. Built once per corpus (the only pass that
    ever shingles the existing documents); every subsequent batch
    dedups against it via :func:`dedup_against_store` without
    recomputing a single existing signature.

    Layout: ``{path}/bands`` is (id, band, band_key) — ~4 short rows
    per document, tiny next to the text it indexes; ``{path}/counts``
    is the per-(band, band_key) member count, precomputed HERE so the
    per-batch hot-bucket guard never re-aggregates the store (at
    100 TB of corpus, re-counting the store every nightly batch would
    be a full store shuffle — the counts table makes the guard
    O(new batch)).

    Layout v2 (round 6): both tables are partitioned by
    ``ingest_batch_id`` — the build writes the base partition ``-1``
    and each append lands in its own partition. A batch-keyed
    partition is what makes the streaming ingest loop's store append
    IDEMPOTENT (replaying a batch overwrites its own partition
    instead of appending twice); batch reads prune replay-tainted
    partitions with ``before_batch``. Partition pruning makes both
    free at read time.

    ``commit``: the shared storage contract of every store (see
    ``sources/manifest.py``) — ``"rename"`` (default) or
    ``"manifest"`` for object stores. Appends, probes and compaction
    resolve the pointer transparently on both layouts."""
    bands = minhash_band_table(df, text_col, id_col, n)
    with staged_store(df.sparkSession, path, commit) as staged:
        _write_band_store(bands, staged)


def _write_band_store(bands: DataFrame, staged: str) -> None:
    """Write a complete band store into ``staged``: the bands as the
    base partition, then the counts aggregated from that partition."""
    spark = bands.sparkSession
    bands.write.mode("overwrite").parquet(f"{staged}/bands/ingest_batch_id=-1")
    (
        spark.read.parquet(f"{staged}/bands")
        .groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("store_n"))
        .write.mode("overwrite")
        .parquet(f"{staged}/counts/ingest_batch_id=-1")
    )


def append_to_minhash_band_store(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    batch_id: int | None = None,
) -> None:
    """Append a new batch to an existing band store — the post-ingest
    step of the nightly cycle (dedup the batch with
    :func:`dedup_against_store`, keep the survivors, append them so
    tomorrow's batch dedups against today's corpus too).

    Bands append as-is; counts append as a PER-BATCH DELTA row set
    rather than rewriting the merged totals (rewriting would be an
    O(all store keys) job per batch). The guard merges deltas lazily —
    but only for the keys a batch actually touches, after the
    broadcast prune, so reads stay O(new batch). Run
    :func:`compact_minhash_band_store` to compact a long-appended store
    back to one row per key.

    ``batch_id`` follows the shared append contract
    (``sources.manifest.batch_dir``): set, the batch overwrites its
    own partition (replay-safe); unset, rows accumulate in the base
    partition."""
    path, part, mode = batch_dir(df.sparkSession, path, batch_id)
    bands = minhash_band_table(df, text_col, id_col, n).persist()
    bands.write.mode(mode).parquet(f"{path}/bands/ingest_batch_id={part}")
    (
        bands.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("store_n"))
        .write.mode(mode)
        .parquet(f"{path}/counts/ingest_batch_id={part}")
    )
    bands.unpersist()


def compact_minhash_band_store(spark, path: str) -> None:
    """Compact a long-appended band store back to the base layout:
    all band partitions merge into ``ingest_batch_id=-1`` and the
    per-append delta count rows collapse to one total per
    ``(band, band_key)``.

    Unlike rebuilding with :func:`build_minhash_band_store`, this
    reads only the STORE (bands are ~4 short rows per document) —
    never the corpus text, so no re-shingling and no 100 TB scan.
    Run it when the counts table's delta-row count (one row set per
    append) starts to matter; correctness never depends on it (the
    guard merges deltas lazily). The compacted store is staged whole
    and published once (``sources.manifest.staged_store``); run it
    with no ingest stream draining into the store."""
    cur, commit = store_layout(spark, path)
    bands = spark.read.parquet(f"{cur}/bands").drop("ingest_batch_id")
    with staged_store(spark, path, commit) as staged:
        _write_band_store(bands, staged)
        _carry(spark, cur, staged, "_ingest_stream")


def _combined_small_keys(
    new_bands: DataFrame, store_counts: DataFrame, max_bucket: int
) -> DataFrame:
    """The incremental hot-bucket guard: new-batch band keys whose
    COMBINED (store + new) member count stays within ``max_bucket``.
    Restricted to new-side keys — store-only keys can't form
    candidates, so the candidate set is identical to counting the
    whole combined corpus.

    Join order matters at scale: a plain left join new_counts x
    store_counts could only broadcast the STORE side (LeftOuter builds
    right) — wrong at 100 TB. So store_counts is first pruned to
    new-batch keys via an inner join that broadcasts the new keys
    (scan + broadcast-hash-join, no store shuffle); the remaining left
    join is between two batch-sized frames."""
    new_counts = new_bands.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("new_n")
    )
    new_keys = new_counts.select("band", "band_key")
    # sum AFTER the broadcast prune: the counts table may hold one
    # delta row per append (append_to_minhash_band_store), and merging
    # deltas for just the hit keys is O(new batch) work
    store_hits = (
        store_counts.join(
            F.broadcast(new_keys), on=["band", "band_key"], how="inner"
        )
        .groupBy("band", "band_key")
        .agg(F.sum("store_n").alias("store_n"))
    )
    return (
        new_counts.join(
            F.broadcast(store_hits), on=["band", "band_key"], how="left"
        )
        .filter(
            F.coalesce(F.col("store_n"), F.lit(0)) + F.col("new_n") <= max_bucket
        )
        .select("band", "band_key")
    )


def dedup_against_store(
    new_df: DataFrame,
    store: DataFrame | str,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    tau_num: int = 1,
    tau_den: int = 2,
    max_bucket: int = 50,
    before_batch: int | None = None,
) -> DataFrame:
    """Incremental near-dup detection: which NEW documents near-dup an
    EXISTING corpus document? Returns (doc_old, doc_new, n_common,
    n_old, n_new) with the same exact-Jaccard verify (precision 1.0)
    as :func:`minhash_lsh_pairs`.

    ``before_batch`` (path stores only) prunes store partitions with
    ``ingest_batch_id >= before_batch`` — the replay fence: a
    re-delivered streaming batch must dedup against exactly the
    pre-batch store state, not against its own earlier partial
    append (which would make every document a duplicate of itself).
    Partition pruning makes the fence free.

    Scale design — the per-batch costs are O(new batch), not O(corpus):

    * signatures are computed for the new batch ONLY; the corpus side
      comes from the persisted band store (``store``: parquet path
      from :func:`build_minhash_band_store`, or a bare band-table
      DataFrame as the non-persisted fallback);
    * the hot-bucket guard counts STORE + NEW members together (same
      ``max_bucket`` semantics as self-dedup applied to the combined
      corpus — a boilerplate bucket is degenerate no matter which side
      its members arrived in). The store-side counts come from the
      store's precomputed ``counts`` table, and only band keys PRESENT
      IN THE NEW BATCH are aggregated — keys that exist only in the
      store cannot produce a candidate, so dropping them changes
      nothing while keeping the guard shuffle O(new batch) instead of
      O(corpus);
    * the surviving key set is new-batch-sized, so it BROADCASTS to
      the store scan — the full store meets only a scan +
      broadcast-hash-join filter; the only store rows that ever reach
      a shuffle are the pruned subset (bounded by new keys x
      ``max_bucket``), which is O(new batch);
    * candidates are the store x new band equi-join (never a cartesian;
      sides are disjoint so no self-pair filter is needed);
    * the corpus text is shingled only for documents that actually
      appear as candidates (semi-join on candidate ids BEFORE the
      shingle projection — at scale this is the difference between
      scanning 100 TB of text and reading the few candidate rows).

    ``corpus_df`` must contain every id the store indexes (it is the
    verify-time source of existing documents' text)."""
    _check_max_bucket(max_bucket, "dedup_against_store")
    spark = new_df.sparkSession
    store_counts = None
    if isinstance(store, str):
        store = resolve_root(spark, store)
        store_counts = spark.read.parquet(f"{store}/counts")
        store = spark.read.parquet(f"{store}/bands")
        if before_batch is not None:
            if "ingest_batch_id" not in store.columns:
                raise ValueError(
                    "before_batch requires a layout-v2 band store "
                    "(partitioned by ingest_batch_id); rebuild it with "
                    "build_minhash_band_store"
                )
            store_counts = store_counts.filter(
                F.col("ingest_batch_id") < before_batch
            )
            store = store.filter(F.col("ingest_batch_id") < before_batch)
    elif before_batch is not None:
        raise ValueError(
            "before_batch only applies to a path store (the replay "
            "fence prunes persisted partitions); got a DataFrame"
        )
    new_df = spread_small_input(new_df)
    new_bands = minhash_band_table(new_df, text_col, id_col, n)
    store_bands = store.select(id_col, "band", "band_key")
    if store_counts is None:
        # DataFrame store (no persisted counts): aggregate on the fly
        store_counts = store_bands.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("store_n")
        )
    small = _combined_small_keys(new_bands, store_counts, max_bucket)
    # bounded by the new batch's key count; materialize once so the
    # two candidate joins reference a leaf instead of re-planning the
    # whole guard lineage per use
    small = small.localCheckpoint(eager=True)
    cand = (
        store_bands.join(F.broadcast(small), on=["band", "band_key"])
        .select(F.col(id_col).alias("doc_old"), "band", "band_key")
        .join(
            new_bands.join(F.broadcast(small), on=["band", "band_key"]).select(
                F.col(id_col).alias("doc_new"), "band", "band_key"
            ),
            on=["band", "band_key"],
        )
        .select("doc_old", "doc_new")
        .distinct()
    )
    cand = cand.repartition(new_df.sparkSession.sparkContext.defaultParallelism)
    # shingle only candidate corpus rows: ids first, text after
    old_sets = (
        corpus_df.join(
            cand.select(F.col("doc_old").alias(id_col)).distinct(), on=id_col
        )
        .select(F.col(id_col).alias("doc_old"), shingles(text_col, n).alias("sh_old"))
    )
    new_sets = new_df.select(
        F.col(id_col).alias("doc_new"), shingles(text_col, n).alias("sh_new")
    )
    return (
        cand.join(old_sets, "doc_old")
        .join(new_sets, "doc_new")
        .withColumn("n_common", F.size(F.array_intersect("sh_old", "sh_new")))
        .withColumn("n_old", F.size("sh_old"))
        .withColumn("n_new", F.size("sh_new"))
        .filter(
            F.lit(tau_den) * F.col("n_common")
            >= F.lit(tau_num)
            * (F.col("n_old") + F.col("n_new") - F.col("n_common"))
        )
        .select("doc_old", "doc_new", "n_common", "n_old", "n_new")
    )


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60
) -> DataFrame:
    """60-bit SimHash over token counts: token hash = first 15 md5 hex
    digits (60 bits, positive int64 in both engines); bit b of the
    sketch is 1 iff sum over tokens of (+count if bit set else -count)
    is positive. 60 not 64 bits keeps every value positive in signed
    int64 for engine portability."""
    # the sketch build is pure CPU (md5 + 60 bit-sums) over what is
    # often a single-file scan: spread it so all cores participate
    # (same fix the HLL/Bloom queries carry — round-6 measurement)
    occ = spread_small_input(df).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    ).select(
        F.col(id_col),
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h60"),
    )
    # ONE groupBy with 60 native bit-sum aggregates + a count. Bit b
    # of the sketch is set iff the ±1 occurrence sum is positive,
    # and sum(±1) = 2*ones_b - n, so summing the raw BIT ((h>>b)&1,
    # no CASE WHEN) and testing 2*ones_b > n is bit-identical to the
    # former conditional-sum form while roughly halving the aggregate
    # expression tree (measured r7: ~1s of driver-side plan cost at
    # 60 aggregates). Each document's tokens sit in one input row, so
    # partial aggregation collapses to one 61-sum row per doc
    # map-side: the only shuffle carries one row per document.
    # expressions ship as generated SQL strings (one F.expr each, one
    # for the whole sketch sum) instead of per-node Column calls: the
    # former ~500 py4j round-trips cost ~1.2 s of driver wall-clock
    # PER CALL at 60 bits (measured r7 — the same driver-side-tree
    # lesson as b13's plane literals)
    per_bit = occ.groupBy(id_col).agg(
        F.expr("count(1) AS __n"),
        *[
            F.expr(f"sum(shiftright(h60, {b}) & 1) AS __s{b}")
            for b in range(bits)
        ],
    )
    sketch_sql = " + ".join(
        f"(CASE WHEN __s{b} * 2 > __n THEN CAST({1 << b} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return per_bit.select(
        F.col(id_col), F.expr(sketch_sql).alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 12,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance. Brute-force
    self-join here (exact, oracle-checkable); production scale uses
    prefix banding on sketch chunks — same pattern as MinHash bands —
    to avoid the O(n^2) pair space."""
    sk = simhash(df, text_col, id_col)
    a = sk.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sk_a")
    )
    b = sk.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sk_b")
    )
    # declared-crossjoin: the O(n^2) ORACLE BASELINE this module
    # documents; the gated scale path is simhash_pairs_banded
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sk_a").bitwiseXOR(F.col("sk_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_pairs_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    sketch_bits: int = 60,
) -> DataFrame:
    """Scale path for SimHash near-dup: band the sketch into
    ``n_bands`` chunks and equi-join on any identical band. By the
    pigeonhole principle, two sketches within Hamming distance
    ``max_hamming < n_bands`` MUST agree on at least one full band —
    so for the classic (k=3, 4x16-bit bands) setting this is *exact*
    (recall 1.0, precision 1.0 after the verify), while candidate
    generation is a band-bucket equi-join instead of the O(n^2) cross
    join of ``simhash_pairs``. The sketch here is 60-bit (md5-derived,
    see ``simhash``), so 4 bands of 15 bits."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"banding is only exact for max_hamming < n_bands "
            f"(got {max_hamming} >= {n_bands})"
        )
    width = sketch_bits // n_bands
    mask = (1 << width) - 1
    # one row per document: materialize the sketch once instead of
    # running the 60-aggregate build on BOTH sides of the band
    # self-join (same rationale as minhash_lsh_pairs' band table)
    sk = simhash(df, text_col, id_col).localCheckpoint(eager=True)
    banded = sk.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), t * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bval"),
                    )
                    for t in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.bval")
    a = banded.select(
        "band", "bval", F.col(id_col).alias("doc_a"), F.col("simhash").alias("sk_a")
    )
    b = banded.select(
        "band", "bval", F.col(id_col).alias("doc_b"), F.col("simhash").alias("sk_b")
    )
    return (
        a.join(b, on=["band", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "sk_a", "doc_b", "sk_b")
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn(
            "hamming", F.bit_count(F.col("sk_a").bitwiseXOR(F.col("sk_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def ngram_overlap_across(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_common: int = 3,
    max_bucket: int | None = 50,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing at least
    ``min_common`` distinct n-gram shingles with any benchmark
    document — the cross-corpus variant of ``ngram_jaccard_pairs``
    that a pretraining pipeline runs against eval sets before
    training. Returns ``(doc_id, bench_id, n_common)``.

    Scale shape: an inverted-index equi-join on shingle (never a
    corpus x benchmark cartesian); per-pair rows are unique because
    ``shingles`` is distinct per document, so ``count(*)`` IS the
    distinct-shingle overlap. ``max_bucket`` drops shingles present in
    more than that many BENCHMARK documents from matching (boilerplate
    text would otherwise fan every corpus doc out to the whole
    benchmark); like the jaccard guard this bounds worst-case fan-out
    at the cost of not counting ubiquitous shingles toward overlap —
    the trade decontamination pipelines make deliberately.
    """
    _check_max_bucket(max_bucket, "ngram_overlap_across")
    c_sh = _exploded_shingles(corpus, text_col, id_col, n)
    b_sh = _exploded_shingles(benchmark, text_col, id_col, n).withColumnRenamed(
        id_col, "bench_id"
    )
    if max_bucket is not None:
        small = (
            b_sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("bn"))
            .filter(F.col("bn") <= max_bucket)
            .drop("bn")
        )
        b_sh = b_sh.join(small, on="shingle")
    return (
        c_sh.join(b_sh, on="shingle")
        .groupBy(id_col, "bench_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= F.lit(min_common))
    )


# ---------------------------------------------------------------------------
# Exact repeated-substring dedup (Lee et al., "Deduplicating Training
# Data Makes Language Models Better", ACL 2022) — the distributed
# n-gram-window formulation of the suffix-array ExactSubstr pass:
# every contiguous ``min_len``-token window is fingerprinted; a window
# whose exact token string occurs >= ``min_count`` times corpus-wide
# is a duplicate occurrence, and overlapping duplicate windows merge
# into maximal spans (a repeat of length m >= min_len contributes
# m - min_len + 1 consecutive duplicated windows, so the merged span
# recovers the full repeat exactly, like the suffix array does).
#
# Scale shape (the reason this formulation wins on Spark at 100 TB):
# there is NO candidate pair structure anywhere — the duplicate-gram
# set is ONE hash aggregate over the window table (map-side partial
# combine absorbs boilerplate windows repeated millions of times), the
# flag-back is a fan-out-free equi-join against DISTINCT grams, and
# the span merge is a per-document window function whose state is
# bounded by the document's own length. Work and shuffle are linear
# in corpus token count; a hot gram skews nothing (it aggregates to
# one row and joins back one-to-one).
# ---------------------------------------------------------------------------


def _positioned_windows(
    df: DataFrame, text_col: str, id_col: str, min_len: int
) -> DataFrame:
    """``(id, pos, gram_md5)`` for every contiguous ``min_len``-token
    window; ``pos`` is the 1-based index of the window's first token.
    Documents shorter than ``min_len`` tokens produce no rows. The
    128-bit md5 keeps window equality collision-free in practice
    (expected collisions ~ n^2 / 2^129 — immaterial even at 10^13
    windows) AND DuckDB-replayable; engine-only callers wanting a
    cheaper key can swap xxhash64 in, at the price of the oracle."""
    toks = tokens(text_col)
    n = int(min_len)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col), F.posexplode(grams).alias("pos0", "gram")
    ).select(
        id_col,
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.md5("gram").alias("gram_md5"),
    )


def _merge_islands(
    flagged: DataFrame, id_col: str, min_len: int
) -> DataFrame:
    """Gaps-and-islands merge of duplicated window positions into
    maximal spans. Window at ``pos`` covers tokens
    ``[pos, pos + min_len - 1]``; consecutive flagged positions p < q
    merge iff q <= p + min_len (coverage overlaps or is adjacent).
    Returns ``(id, span_start, span_end, n_windows)`` with disjoint,
    non-adjacent spans per document."""
    from pyspark.sql import Window

    n = int(min_len)
    w_ord = Window.partitionBy(id_col).orderBy("pos")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        flagged.withColumn(
            "ni",
            F.when(F.col("pos") > F.lag("pos").over(w_ord) + n, 1).otherwise(0),
        )
        .withColumn("island", F.sum("ni").over(w_run))
        .groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("island")
    )


def repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated token spans (Lee et al. 2022 ExactSubstr,
    detection half): every span of >= ``min_len`` contiguous tokens
    whose windows each occur >= ``min_count`` times corpus-wide,
    merged to maximal extent per document. Returns
    ``(id, span_start, span_end, n_windows)`` — token indexes
    1-based, span covers ``[span_start, span_end]`` inclusive.

    ``min_count`` counts ALL occurrences (a string repeated twice
    inside one document is a duplicate, matching the suffix-array
    definition). Exactness: a window is flagged iff its exact token
    string repeats — no hashing tolerance, no banding loss; the md5
    fingerprint stands in for string equality only.
    """
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    w = _positioned_windows(spread_small_input(df), text_col, id_col, min_len)
    dup = (
        w.groupBy("gram_md5")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= int(min_count))
        .select("gram_md5")
    )
    flagged = w.join(dup, "gram_md5").select(id_col, "pos")
    return _merge_islands(flagged, id_col, min_len)


def remove_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Cut duplicated spans, keeping ONE canonical copy of each
    (Lee et al. 2022 ExactSubstr, removal half). For every duplicated
    window the canonical occurrence is the lexicographically smallest
    ``(id, pos)``; all other occurrences are cut. Marked windows merge
    into maximal spans per document (disjoint by construction) and the
    surviving tokens are re-joined with single spaces.

    Returns the input rows with ``n_tokens``, ``n_tokens_kept`` and
    ``<text_col>_clean`` appended. Deterministic: the canonical pick
    is a total order, so reruns and engine/oracle replays agree
    byte-for-byte. A document that is an exact copy of an earlier one
    cleans to the empty string while the earliest copy survives whole
    — document-level exact dedup falls out as a special case.

    Scale: one extra field in the duplicate-gram aggregate (the
    arg-min as ``min(struct(id, pos))``, still map-side combinable),
    one semi-join, and a per-document span merge; the cut itself is a
    scan-side array filter against the document's own (bounded) span
    list. Linear end-to-end, same as :func:`repeated_spans`.
    """
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    w = _positioned_windows(spread_small_input(df), text_col, id_col, min_len)
    dup = (
        w.groupBy("gram_md5")
        .agg(
            F.count(F.lit(1)).alias("occ"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("keep"),
        )
        .filter(F.col("occ") >= int(min_count))
        .select("gram_md5", "keep")
    )
    marked = (
        w.join(dup, "gram_md5")
        .filter(
            ~(
                (F.col(id_col) == F.col(f"keep.{id_col}"))
                & (F.col("pos") == F.col("keep.pos"))
            )
        )
        .select(id_col, "pos")
    )
    return _cut_marked(df, marked, text_col, id_col, min_len)


def _cut_marked(
    df: DataFrame, marked: DataFrame, text_col: str, id_col: str, min_len: int
) -> DataFrame:
    """Cut the coverage of ``marked`` (id, pos) windows out of ``df``:
    island-merge to disjoint spans, re-join per document (the span
    list is bounded by the document's own length), filter the token
    array scan-side, re-join survivors with single spaces."""
    spans = (
        _merge_islands(marked, id_col, min_len)
        .groupBy(id_col)
        .agg(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"), F.col("span_end").alias("e")
                )
            ).alias("__spans")
        )
    )
    toks = tokens(text_col)
    kept = F.filter(
        toks,
        lambda t, i: ~F.coalesce(
            F.exists(
                F.col("__spans"),
                lambda sp: (i + 1 >= sp["s"]) & (i + 1 <= sp["e"]),
            ),
            F.lit(False),
        ),
    )
    return (
        df.join(spans, on=id_col, how="left")
        .withColumn("n_tokens", F.size(toks).cast("long"))
        .withColumn("n_tokens_kept", F.size(kept).cast("long"))
        .withColumn(f"{text_col}_clean", F.concat_ws(" ", kept))
        .drop("__spans")
    )


# ---------------------------------------------------------------------------
# Incremental ExactSubstr: the persisted gram-count store. The nightly
# loop's repeated-substring twin of the MinHash band store — build
# once over the corpus, append per batch, clean each new batch at
# O(new batch) cost without re-windowing a byte of existing text.
# ---------------------------------------------------------------------------


def build_gram_store(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 8,
    commit: str = "rename",
) -> None:
    """Persist the corpus's window-count table for incremental
    repeated-substring dedup: ``{path}/grams`` is ``(gram_md5, occ)``
    — ONE row per distinct window string (boilerplate repeated a
    million times still aggregates to one row), partitioned by
    ``ingest_batch_id`` exactly like the band store (base partition
    ``-1``; appends land in their own partitions; replay overwrites
    idempotently). ``{path}/_gram_meta`` records ``min_len`` — the
    window width is structural (mismatched widths compare different
    strings), so probes resolve it from the store and explicit
    mismatches raise, the `_lsh_meta` discipline.

    Build over the SAME corpus a one-shot
    :func:`remove_repeated_spans` would see (raw, pre-clean): the
    store's counts stand in for the corpus occurrences in the
    duplicate test, and the one-shot-equivalence contract (pinned in
    tests) is stated in :func:`clean_against_gram_store`. ``commit``:
    the shared storage contract (``sources/manifest.py``)."""
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    spark = df.sparkSession
    w = _positioned_windows(spread_small_input(df), text_col, id_col, min_len)
    with staged_store(spark, path, commit) as staged:
        _gram_counts(w).write.mode("overwrite").parquet(
            f"{staged}/grams/ingest_batch_id=-1"
        )
        _write_gram_meta(spark, staged, min_len)


def _gram_counts(w: DataFrame) -> DataFrame:
    return w.groupBy("gram_md5").agg(F.count(F.lit(1)).alias("occ"))


def _write_gram_meta(spark, path: str, min_len: int) -> None:
    local_rows_df(spark, [(int(min_len),)], "min_len int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/_gram_meta")


def _gram_meta_exists(spark, path: str) -> bool:
    return _exists(spark, f"{path}/_gram_meta")


def _resolve_gram_meta(spark, path: str, min_len: int | None, caller: str) -> int:
    from pyspark.errors import AnalysisException

    try:
        # bounded-collect: one parameter row from the store metadata
        meta = spark.read.parquet(f"{path}/_gram_meta").collect()
    except AnalysisException:
        meta = []
    if meta:
        ml = int(meta[0].min_len)
        if min_len is not None and min_len != ml:
            raise ValueError(
                f"{caller}: store at {path!r} was built with "
                f"min_len={ml}, got min_len={min_len} — different window "
                "widths fingerprint different strings; pass None to "
                "adopt the recorded width"
            )
        return ml
    if min_len is None:
        raise ValueError(
            f"{caller}: store at {path!r} has no _gram_meta and no "
            "min_len was given"
        )
    return min_len


def append_to_gram_store(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int | None = None,
    batch_id: int | None = None,
) -> None:
    """Append a batch's window counts to an existing gram store (the
    post-clean step of the nightly cycle: clean the batch with
    :func:`clean_against_gram_store`, keep the survivors, append so
    tomorrow's batch is checked against today's corpus too). Counts
    append as a PER-BATCH DELTA row set — reads merge deltas lazily
    for only the keys a batch touches; :func:`compact_gram_store`
    collapses a long-appended store. ``batch_id`` follows the shared
    append contract (``sources.manifest.batch_dir``)."""
    spark = df.sparkSession
    path, part, mode = batch_dir(spark, path, batch_id)
    had_meta = _gram_meta_exists(spark, path)
    min_len = _resolve_gram_meta(spark, path, min_len, "append_to_gram_store")
    w = _positioned_windows(spread_small_input(df), text_col, id_col, min_len)
    _gram_counts(w).write.mode(mode).parquet(f"{path}/grams/ingest_batch_id={part}")
    if not had_meta:
        # first-batch store creation (the streaming path starts with
        # no prior build): record the width so later appends/cleans
        # resolve and pin it like a built store's
        _write_gram_meta(spark, path, min_len)


def compact_gram_store(spark, path: str) -> None:
    """Collapse per-append delta rows to one total per gram. Reads
    only the STORE (never corpus text); the compacted grams, the
    ``_gram_meta`` and the ``_ingest_stream`` marker that
    ``streaming.ingest.stream_maintain_gram_store`` keeps inside
    ``{path}/grams`` are staged whole and published once
    (``sources.manifest.staged_store``). Run it with the stream
    stopped: compacting between a crash and its replay folds a torn
    batch into the base."""
    cur, commit = store_layout(spark, path)
    grams = spark.read.parquet(f"{cur}/grams").drop("ingest_batch_id")
    with staged_store(spark, path, commit) as staged:
        grams.groupBy("gram_md5").agg(F.sum("occ").alias("occ")).write.mode(
            "overwrite"
        ).parquet(f"{staged}/grams/ingest_batch_id=-1")
        _carry(spark, cur, staged, "_gram_meta", "grams/_ingest_stream")


def clean_against_gram_store(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    before_batch: int | None = None,
) -> DataFrame:
    """Incremental repeated-substring removal: cut from the NEW batch
    every window whose corpus-wide occurrence count (store + batch)
    reaches ``min_count``, keeping a batch occurrence only when the
    gram is store-ABSENT and it is the batch's own canonical
    ``min (id, pos)`` — the store always wins the canonical pick.
    Same output columns as :func:`remove_repeated_spans`.

    ONE-SHOT EQUIVALENCE (pinned in tests): when batch ids are GREATER
    than every corpus id (the reserved-base discipline all the
    incremental stores share), this equals
    ``remove_repeated_spans(corpus UNION batch)`` restricted to batch
    rows — the store stands in for the corpus occurrences exactly.
    With out-of-order ids the one-shot canonical could land in the
    batch; the store keeps no positions, so it cannot know — hence the
    id contract.

    ``before_batch`` is the replay fence (band-store semantics): a
    re-delivered batch cleans against exactly the pre-batch store
    state, with partition pruning making the fence free.

    Scale: O(new batch) — batch windows aggregate map-side; the batch
    key set broadcasts to the store scan (scan + broadcast-hash-join,
    the store is never shuffled); matched counts (bounded by batch
    keys) broadcast back; the cut is the same island-merge + scan-side
    array filter as the one-shot."""
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    spark = df.sparkSession
    path = resolve_root(spark, path)
    min_len = _resolve_gram_meta(spark, path, None, "clean_against_gram_store")
    grams = spark.read.parquet(f"{path}/grams")
    if before_batch is not None:
        if "ingest_batch_id" not in grams.columns:
            raise ValueError(
                "before_batch requires the partitioned store layout; "
                "rebuild with build_gram_store"
            )
        grams = grams.filter(F.col("ingest_batch_id") < before_batch)
    df = spread_small_input(df)
    w = _positioned_windows(df, text_col, id_col, min_len)
    batch_agg = w.groupBy("gram_md5").agg(
        F.count(F.lit(1)).alias("bn"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("keep"),
    )
    keys = batch_agg.select("gram_md5")
    store_hits = (
        grams.join(F.broadcast(keys), on="gram_md5", how="inner")
        .groupBy("gram_md5")
        .agg(F.sum("occ").alias("sn"))
    )
    dup = (
        batch_agg.join(F.broadcast(store_hits), on="gram_md5", how="left")
        .withColumn("sn", F.coalesce(F.col("sn"), F.lit(0)))
        .filter(F.col("sn") + F.col("bn") >= int(min_count))
        .select("gram_md5", "sn", "keep")
    )
    marked = (
        w.join(dup, "gram_md5")
        .filter(
            ~(
                (F.col("sn") == 0)
                & (F.col(id_col) == F.col(f"keep.{id_col}"))
                & (F.col("pos") == F.col("keep.pos"))
            )
        )
        .select(id_col, "pos")
    )
    return _cut_marked(df, marked, text_col, id_col, min_len)
