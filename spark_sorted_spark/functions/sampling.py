"""Deterministic sampling for training-data pipelines.

``DataFrame.sample``/``sampleBy`` are Bernoulli draws from a seeded
RNG — reproducible within one Spark version but opaque to any other
engine and unstable under repartitioning. Pretraining mixes want
*content-deterministic* sampling: whether a row is kept depends only
on its id, so reruns, backfills, and other engines agree row-for-row.

``hash_sample`` keeps a row iff ``md5(id) mod den < num`` — an
engine-portable coin flip (DuckDB oracle computes the identical md5
prefix). ``stratified_hash_sample`` applies a per-stratum rate: the
downsample-the-boilerplate / upweight-the-rare-language step of a
corpus mix, exactly reproducible.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .local_rows import local_rows_df

__all__ = [
    "hash_sample",
    "training_order",
    "stratified_hash_sample",
    "hash_split",
    "negative_pairs",
    "dsir_select",
    "temperature_quotas",
    "temperature_mix",
    "semantic_mix",
]


def _hash_bucket(id_col: Column, den: int) -> Column:
    # first 8 hex chars of md5 -> int32-range value, mod den; same
    # expression is expressible verbatim in DuckDB
    h = F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10)
    return F.pmod(h.cast("bigint"), F.lit(den))


def hash_sample(
    df: DataFrame, id_col: str, num: int, den: int = 100
) -> DataFrame:
    """Keep ~num/den of rows, chosen by content hash of ``id_col`` —
    deterministic across runs, engines, and partitionings."""
    return df.filter(_hash_bucket(F.col(id_col), den) < num)


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: Mapping[str, tuple[int, int]],
    default: tuple[int, int] = (1, 1),
) -> DataFrame:
    """Per-stratum deterministic sampling: ``rates[stratum] = (num,
    den)`` keeps ~num/den of that stratum's rows. Strata not listed
    use ``default`` (keep-all by default). One narrow filter — no
    shuffle, no RNG state."""
    num, den = default
    keep: Column = _hash_bucket(F.col(id_col), den) < num
    expr = keep
    for stratum, (n, d) in rates.items():
        cond = F.col(strata_col) == stratum
        expr = F.when(cond, _hash_bucket(F.col(id_col), d) < n).otherwise(expr)
    return df.filter(expr)


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: Mapping[str, int],
    split_col: str = "split",
) -> DataFrame:
    """Deterministic disjoint train/val/test splitting: assign every
    row exactly one label from ``weights`` (e.g. ``{"train": 98,
    "val": 1, "test": 1}``) by content hash of ``id_col``. The same
    row lands in the same split on every rerun, engine, and partition
    layout — and splits are disjoint BY CONSTRUCTION (one bucket
    draw, consecutive ranges), unlike three independent samples.
    One narrow projection; no shuffle, no RNG."""
    if not weights:
        raise ValueError("hash_split requires at least one split weight")
    bad = {k: w for k, w in weights.items() if w <= 0}
    if bad:
        raise ValueError(f"split weights must be positive: {bad}")
    den = sum(weights.values())
    bucket = _hash_bucket(F.col(id_col), den)
    expr = None
    hi = 0
    for name, w in weights.items():
        hi += w
        branch_args = (bucket < F.lit(hi), F.lit(name))
        expr = F.when(*branch_args) if expr is None else expr.when(*branch_args)
    return df.withColumn(split_col, expr)


def _empty_mix(df: DataFrame, id_col: str, strata_field) -> DataFrame:
    """Empty (id, stratum, rank) frame whose id column keeps the
    INPUT's type — the output schema must not depend on whether the
    input was empty."""
    from pyspark.sql.types import LongType, StructField, StructType

    return local_rows_df(
        df.sparkSession,
        [],
        StructType(
            [df.schema[id_col], strata_field, StructField("rank", LongType())]
        ),
    )


def _quota_take(
    strat: DataFrame, strata_col: str, quotas: Mapping, id_col: str,
    strata_type: str,
) -> DataFrame:
    """The shared quota-take tail of the mix operators: rank each
    stratum's members by the content-deterministic ``(md5(id), id)``
    order — the same coin every sampler in this module flips — and
    keep rank <= quota. One window over the stratum partitioning (a
    skewed stratum degrades to WindowExec's spill path, never a
    driver materialization); the quota relation is a broadcast
    |strata|-row literal."""
    from pyspark.sql import Window

    qdf = local_rows_df(
        strat.sparkSession,
        sorted(quotas.items()), f"{strata_col} {strata_type}, __q bigint"
    )
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    ranked = strat.select(
        F.col(id_col),
        F.col(strata_col),
        F.row_number().over(w).cast("bigint").alias("rank"),
    )
    return ranked.join(F.broadcast(qdf), strata_col).filter(
        F.col("rank") <= F.col("__q")
    ).select(id_col, strata_col, "rank")


def semantic_mix(
    df: DataFrame,
    embeddings: DataFrame,
    total: int,
    temperature: float = 2.0,
    n_clusters: int = 16,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
) -> DataFrame:
    """Cluster-balanced corpus mix — :func:`temperature_mix` at
    EMBEDDING-CLUSTER granularity: where the source-level recipe
    flattens over-represented DOMAINS, this flattens over-represented
    TOPICS (boilerplate families, templates, near-duplicate themes a
    source label cannot see). Every embedding is assigned to its
    seeded-centroid cluster (the IVF construction: deterministic
    ``(md5(id), id)`` seeded pick + the native struct-argmax
    assignment, optional Lloyd refinement); the cluster counts OF THE
    FRAME BEING MIXED (``df`` joined to its assignments — like
    temperature_mix, quotas describe the frame it mixes, never a
    larger embedding universe) feed :func:`temperature_quotas`; and
    each cluster's quota is filled in the content-deterministic
    ``(md5(id), id)`` hash order, so reruns and other engines select
    identical rows. Returns ``(id, cluster, rank)`` with rank
    1..quota within cluster. Documents without an embedding row are
    dropped (embed-first is the pipeline contract); ids must identify
    ONE vector — exact-duplicate (id, vector) rows collapse
    deterministically, conflicting vectors per id are a data bug the
    distinct cannot repair.

    Scale shape: centroid pick + per-cluster counts are bounded
    collects (n_clusters rows); assignment is one narrow map against
    a constant-folded centroid literal; selection is ONE window over
    the cluster partitioning; the quota relation broadcasts. T=2
    (sqrt weights) keeps the whole quota arithmetic IEEE-correctly-
    rounded, hence SQL-replayable bitwise (see temperature_quotas)."""
    from pyspark.sql.types import IntegerType, StructField

    from .similarity import _ivf_cell_col, _ivf_train

    if n_clusters < 1:
        raise ValueError(f"n_clusters must be >= 1, got {n_clusters}")
    if total < 0:
        raise ValueError(f"total must be >= 0, got {total}")
    if temperature <= 0:
        # validate BEFORE the centroid/count Spark jobs run (the
        # validate-before-IO rule the IVF probes follow)
        raise ValueError(f"temperature must be > 0, got {temperature}")
    # dedupe ONCE up front: exact-duplicate (id, vector) rows must not
    # perturb the seeded centroid pick (a duplicated seed id would
    # yield two identical centroids) nor double-count clusters
    emb_d = embeddings.select(
        F.col(vec_id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    ).distinct()
    cents = _ivf_train(emb_d, n_clusters, lloyd_iters, vec_col, vec_id_col).cents
    if not cents:
        return _empty_mix(df, id_col, StructField("cluster", IntegerType()))
    assigned = emb_d.select(
        F.col(vec_id_col).alias(id_col),
        _ivf_cell_col(F.col(vec_col), cents).alias("cluster"),
    )
    mixed = df.select(id_col).join(assigned, id_col)
    counts = {
        int(r[0]): int(r[1])
        # bounded-collect: one row per cluster (n_clusters is a
        # bounded parameter, not data-sized)
        for r in mixed.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    quotas = temperature_quotas(counts, total, temperature)
    return _quota_take(mixed, "cluster", quotas, id_col, "int")


def training_order(
    df: DataFrame,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic training-order assignment — the dataloader-facing
    LAST step of a corpus pipeline: a seeded content-hash permutation
    of the corpus split into ``n_shards`` files, each row tagged with
    its shard and its 0-based position within that shard. Reruns,
    backfills, and other engines produce the identical order
    row-for-row (the ``hash_sample`` portability contract applied to
    ORDERING); a different ``seed`` yields an independent permutation
    — the per-epoch reshuffle without RNG state.

    Construction: ``key = md5(seed || ':' || id)``; ``shard`` = the
    key's leading-32-bit bucket mod ``n_shards``; ``pos`` = rank
    within the shard by ``(key, id)``. Why no GLOBAL position: a
    corpus-wide row_number is a single-partition sort (the one
    ordering shape that cannot scale); per-shard positions are what a
    sharded dataloader consumes anyway, and they parallelize as one
    hash shuffle + per-shard sort — exactly the group_sort layout, so
    the plan holds at any corpus size. Dropping to more shards than
    executors keeps each sort partition-sized.

    ID CONTRACT (ADVICE r12): ``id_col`` must be non-NULL and unique.
    A NULL id raises at compute time (a row-level guard, no extra
    scan) — Spark's ``concat_ws`` silently SKIPS NULLs, so a NULL id
    would hash as ``md5('<seed>')`` and get a stable-looking but
    meaningless slot while the documented DuckDB replay
    (``'<seed>:' || id``) yields NULL — a cross-engine divergence
    with no error. Duplicate ids share one ``(key, id)`` sort key, so
    their relative positions are partition-order nondeterminism:
    dedupe first (this is the dataloader-facing LAST step of a
    pipeline whose earlier stages own dedup)."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    from pyspark.sql import Window

    key = F.when(
        F.col(id_col).isNull(),
        F.raise_error(
            F.lit(
                f"training_order: NULL {id_col} — the seeded "
                "content-hash permutation requires non-NULL unique ids "
                "(a NULL would silently hash as md5('<seed>'))"
            )
        ),
    ).otherwise(
        F.md5(
            F.concat_ws(
                ":", F.lit(str(int(seed))), F.col(id_col).cast("string")
            )
        )
    )
    keyed = df.withColumn("__to_key", key).withColumn(
        shard_col,
        F.pmod(
            F.conv(F.substring(F.col("__to_key"), 1, 8), 16, 10).cast(
                "bigint"
            ),
            F.lit(int(n_shards)),
        ),
    )
    w = Window.partitionBy(shard_col).orderBy(
        F.col("__to_key"), F.col(id_col)
    )
    return (
        keyed.withColumn(
            pos_col, (F.row_number().over(w) - 1).cast("bigint")
        )
        .drop("__to_key")
    )


def negative_pairs(
    df: DataFrame,
    m: int,
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """Deterministic pseudo-random negative sampling for contrastive
    training: each anchor row is paired with ``m`` negatives drawn
    from its hash bucket's md5-ordered ring (the next ``m`` rows
    cyclically). md5 order is a fixed pseudo-random permutation of
    the corpus, so the pairing depends only on content ids — reruns,
    backfills, and other engines produce the identical pair set
    (unlike seeded RNG sampling; same argument as ``hash_sample``).

    Output: ``(id_col, neg_<id_col>, j)`` with ``j`` in
    ``1..min(m, bucket_size - 1)`` — the ring guarantees distinct
    negatives and never pairs an anchor with itself; anchors in
    buckets smaller than ``m + 1`` get every other bucket member
    once.

    Scale shape (100 TB): one hash shuffle into ``n_buckets``-keyed
    windows (rank + bucket size are window functions over the SAME
    partitioning — one Exchange), an m-way explode of (bucket, rank)
    keys, and an equi-join back on (bucket, rank). No global sort,
    no cartesian; ``n_buckets`` bounds window partition size the way
    it bounds any per-key state.
    """
    from pyspark.sql import Window

    if m <= 0:
        raise ValueError(f"m must be positive, got {m}")
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    idc = F.col(id_col)
    h = F.conv(F.substring(F.md5(idc.cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    w = Window.partitionBy("__b").orderBy("__h", id_col)
    ring = df.select(
        idc, h.alias("__h"), F.pmod(h, F.lit(n_buckets)).alias("__b")
    ).select(
        id_col,
        "__b",
        F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(Window.partitionBy("__b")).alias("__n"),
    )
    anchors = ring.select(
        id_col,
        "__b",
        "__n",
        # sequence(1, 0) would generate a DESCENDING [1, 0] — a
        # single-member bucket must yield no negatives, not bogus ones
        F.explode(
            F.when(
                F.col("__n") > 1,
                F.sequence(
                    F.lit(1).cast("bigint"),
                    F.least(F.lit(m).cast("bigint"), F.col("__n") - 1),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("j"),
        F.col("__r").alias("__ar"),
    ).withColumn(
        "__nr", F.pmod(F.col("__ar") - 1 + F.col("j"), F.col("__n")) + 1
    )
    negs = ring.select(
        F.col(id_col).alias(f"neg_{id_col}"),
        F.col("__b"),
        F.col("__r").alias("__nr"),
    )
    return anchors.join(negs, on=["__b", "__nr"]).select(
        id_col, f"neg_{id_col}", "j"
    )


def _hashed_features(text_col: str, include_bigrams: bool):
    """The hashed bag-of-n-grams feature stream (unigrams, then
    bigrams, in position order) as one Catalyst array expression —
    DSIR's feature map (Xie et al. 2023, arXiv:2302.03169 §3: hashed
    n-gram counts)."""
    from .text import tokens

    toks = tokens(text_col)
    if not include_bigrams:
        return toks
    n = F.size(toks)
    m = F.greatest(n - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.concat(toks, bigrams)


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    n_buckets: int = 8192,
    text_col: str = "text",
    id_col: str = "doc_id",
    include_bigrams: bool = True,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169): pick the ``k`` documents of ``raw`` whose
    hashed-n-gram distribution most resembles ``target``, by Gumbel-max
    sampling without replacement proportionally to the importance
    weight

        log w(d) = sum_{features f of d} [ln p_target(f) - ln p_raw(f)]

    with add-1-smoothed bag-of-hashed-n-grams models (``n_buckets``
    buckets; unigrams + bigrams by default, the paper's feature map)
    fit to each corpus. The Gumbel perturbation is derandomized the
    repo's usual way — content-determined from ``md5(id)`` — so
    reruns, backfills, and the DuckDB oracle agree row-for-row.

    Returns the selected rows ``(id, logw, sel_key)``, sel_key
    descending (``sel_key = logw + gumbel(md5(id))``).

    Scale shape: each LM fit is ONE map-side-combinable hash aggregate
    whose result is bounded by ``n_buckets`` rows; the two
    normalization scalars are bounded-metadata collects; scoring joins
    the exploded feature stream to the broadcast <= n_buckets-row
    log-ratio table, then folds per document in strict position order
    (bitwise-reproducible float sum); the final take is ``ORDER BY
    sel_key DESC LIMIT k`` — TakeOrderedAndProject, no global sort.
    The target corpus is never required to be small: only its
    BUCKETED aggregate (<= n_buckets rows) leaves the aggregation.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    from .text import md5_int32

    from .dedup import spread_small_input

    feats = _hashed_features(text_col, include_bigrams)
    bucket = F.pmod(md5_int32(F.col("__feat")), F.lit(n_buckets))
    # the md5-per-feature stages are CPU-bound: make sure a small
    # parquet input (one file => one scan partition) doesn't serialize
    # them onto a single core (no-op at corpus scale)
    raw = spread_small_input(raw)
    target = spread_small_input(target)

    def lm_counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.explode(feats).alias("__feat"))
            .select(bucket.alias("__bkt"))
            .groupBy("__bkt")
            .agg(F.count(F.lit(1)).alias(name))
        )

    # the two LM fits collapse to <= n_buckets rows each — bounded
    # metadata (the same class as the IVF centroid collects), so the
    # log-ratio table is computed DRIVER-SIDE with math.log: glibc
    # libm, bitwise the oracle's ln (Spark's JVM F.log rounds
    # differently on ~4.4% of arguments — functions/exactmath.py), and
    # two aggregate jobs + two Python stages cheaper than server-side
    # ln. The occurrence stream itself never leaves the JVM.
    import math

    from .exactmath import gumbel_libm

    # bounded-collect: each LM fit aggregate has <= n_buckets rows by
    # construction (the hash range), independent of corpus size
    cr = dict(lm_counts(raw, "c").collect())
    # bounded-collect: same <= n_buckets bound as cr
    ct = dict(lm_counts(target, "c").collect())
    n_raw, n_tgt = sum(cr.values()), sum(ct.values())
    den_r, den_t = float(n_raw + n_buckets), float(n_tgt + n_buckets)
    # every bucket a raw document can produce is present in cr (the
    # raw LM is fit on raw itself); absent target buckets smooth to
    # ln(1 / (n_tgt + B))
    lam = local_rows_df(
        raw.sparkSession,
        [
            (
                int(b),
                math.log((ct.get(b, 0) + 1) / den_t)
                - math.log((c + 1) / den_r),
            )
            for b, c in sorted(cr.items())
        ],
        "__bkt bigint, __lam double",
    )

    occ = raw.select(
        F.col(id_col), F.posexplode(feats).alias("__pos", "__feat")
    ).select(id_col, "__pos", bucket.alias("__bkt"))
    logw = (
        occ.join(F.broadcast(lam), "__bkt")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__pos", "__lam"))
            ).alias("__ls")
        )
        .select(
            id_col,
            F.aggregate(
                F.col("__ls"), F.lit(0.0), lambda acc, s: acc + s["__lam"]
            ).alias("logw"),
        )
    )
    # Gumbel-max without replacement, derandomized: u in (0,1) from the
    # id's md5 prefix, g = -ln(-ln(u)); top-k by logw + g. The gumbel
    # runs through gumbel_libm — ONE Arrow pass over one double column
    # at one row per document, AFTER the fold (the sanctioned per-row
    # libm use: a JVM-log key here would make the selected row set
    # engine-dependent at the k boundary).
    u = (md5_int32(F.col(id_col).cast("string")) + F.lit(0.5)) / F.lit(
        4294967296.0
    )
    return (
        logw.select(
            id_col,
            "logw",
            (F.col("logw") + gumbel_libm(u)).alias("sel_key"),
        )
        .orderBy(F.col("sel_key").desc(), F.col(id_col).asc())
        .limit(int(k))
    )


def temperature_quotas(
    counts: Mapping[str, int], total: int, temperature: float
) -> dict[str, int]:
    """Per-stratum quotas for a temperature-scaled mixture (the
    Pile/LLaMA data-mix recipe): quota_s = floor(total * w_s / sum w)
    with w_s = c_s^(1/T). T=1 reproduces the natural mix, T->inf the
    uniform mix; T=2 (the common choice) makes w_s = sqrt(c_s), which
    is IEEE-CORRECTLY-ROUNDED — every float here then matches any
    engine bit-for-bit. Other temperatures go through pow, which libm
    does NOT correctly round: determinism is then host-libm (the same
    caveat functions/exactmath.py documents for ln). The weight sum
    folds in sorted-stratum order so a SQL replay can reproduce it."""
    if total < 0:
        raise ValueError(f"total must be >= 0, got {total}")
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    import math

    if temperature == 2.0:
        w = {s: math.sqrt(c) for s, c in counts.items()}
    else:
        w = {s: math.pow(c, 1.0 / temperature) for s, c in counts.items()}
    sw = 0.0
    for s in sorted(w):  # strict order: SQL-replayable fold
        sw += w[s]
    if sw == 0.0:
        return {s: 0 for s in counts}
    return {s: int(math.floor(total * w[s] / sw)) for s in counts}


def temperature_mix(
    df: DataFrame,
    total: int,
    temperature: float = 2.0,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled corpus mix: keep ``quota_s`` documents of
    each source (see :func:`temperature_quotas`), picking each source's
    members by the content-deterministic hash order ``(md5(id), id)``
    — the same coin every sampler in this module flips, so reruns,
    backfills, and other engines select identical rows. Returns
    ``(id, source, rank)`` with rank 1..quota_s within source.

    Scale shape: the per-source counts are a bounded collect (sources
    are a bounded vocabulary); selection is ONE window over the
    existing source partitioning — a skewed source degrades to
    WindowExec's spill path, never a driver materialization — and the
    quota filter is a broadcast of a |sources|-row literal relation.
    """
    counts = {
        r[0]: r[1]
        for r in df.groupBy(source_col)
        # bounded-collect: one row per source — sources are a bounded
        # vocabulary (domains/datasets), not a data-sized relation
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    if not counts:
        return _empty_mix(df, id_col, df.schema[source_col])
    quotas = temperature_quotas(counts, total, temperature)
    return _quota_take(df, source_col, quotas, id_col, "string")
