"""Text-analysis operators for large-scale training-data pipelines:
tokenization, language-ID heuristic, quality scoring, token counting,
document fingerprinting.

All operators are pure Catalyst column expressions (no Python UDFs) —
whole-stage codegen end to end, so they run at scan speed on 100 TB.
Every function here has a DuckDB-SQL-expressible twin used by the
oracle gate; integer arithmetic and portable md5-based hashing keep
the comparison exact (no float tolerance needed).

Portable 32-bit token hash: ``conv(substr(md5(s),1,8),16,10)`` in
Spark == ``('0x' || substr(md5(s),1,8))::BIGINT`` in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "md5_int32",
    "text_stats",
    "language_id",
    "quality_score",
    "repetition_score",
    "doc_fingerprint",
    "redact_pii",
    "build_vocab",
    "doc_keywords",
    "normalize_text",
    "unigram_logprob",
    "LANG_MARKERS",
    "PII_PATTERNS",
]

FP_MOD = 1_000_000_007  # fingerprint modulus (fits h*131+2^32 in int64)
FP_MULT = 131


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (the driver corpus is space-separated;
    ``\\s+`` regex keeps it robust to runs of whitespace)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def bind(value: Column, fn) -> Column:
    """``fn(v)`` with ``value`` evaluated ONCE per row and bound to the
    lambda variable ``v``. Higher-order-function lambdas run
    interpreted, with no common-subexpression elimination, so an
    expression a lambda body repeats (``tokens(text)`` inside a
    per-gram ``transform``) is evaluated again for every element:
    O(tokens^2) per document. The rule for every lambda here: its body
    reads only lambda variables and attributes."""
    return F.transform(F.array(value), fn)[0]


def over_tokens(col: Column | str, fn) -> Column:
    """``fn(toks)`` over :func:`tokens` of ``col``, tokenized once per
    row (see :func:`bind`)."""
    return bind(tokens(col), fn)


def ngrams(toks: Column, n: int) -> Column:
    """Contiguous word n-grams of the token array ``toks`` (a bound
    lambda variable, see :func:`bind`), in order; empty when there are
    fewer than ``n`` tokens (guarded because ``sequence(1, k)`` with
    k < 1 would count *down*)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def md5_int32(col: Column) -> Column:
    """First 32 bits of md5 as a non-negative bigint — identical in
    DuckDB via hex cast (verified: md5('hello') -> 1564557354)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


# BPE-ish pre-tokenizer: letter runs, digit runs, and single
# non-alnum marks — the word-piece boundary pattern subword
# tokenizers split on first. Same regex class syntax in Java regex
# (Spark) and RE2 (DuckDB), so counts match the oracle exactly.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token counts — all-integer outputs. ``n_tokens``
    is whitespace words; ``n_bpe_tokens`` counts BPE-ish word pieces
    (the usual "how many subword tokens will this cost" estimator)."""
    toks = tokens(text_col)
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars_utf8"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)
        ).alias("n_bpe_tokens"),
    )


# Marker stopword sets for the language-ID heuristic. Deliberately
# tiny: the operator contract is a deterministic scoring function
# (count marker hits per language, argmax with fixed priority, CJK
# characters short-circuit to zh), which the oracle replicates in SQL.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "is", "in"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "et", "les", "des", "un", "est"],
    "es": ["el", "los", "las", "y", "que", "un", "es"],
}
_LANG_PRIORITY = ["en", "de", "fr", "es"]  # deterministic argmax tiebreak


def language_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """n-gram/stopword language-ID heuristic. Counts marker-token
    occurrences per language; CJK codepoints force zh; ties resolve in
    fixed priority order; no hits -> 'und' (undetermined)."""
    toks = tokens(text_col)
    hit_cols = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        hit_cols[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    cjk = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[一-鿿]"), 0))

    scored = df.select(
        F.col(id_col),
        cjk.alias("n_cjk"),
        *[hit_cols[lang].alias(f"hits_{lang}") for lang in _LANG_PRIORITY],
    )
    pred = F.when(F.col("n_cjk") > 0, F.lit("zh"))
    best = F.greatest(*[F.col(f"hits_{l}") for l in _LANG_PRIORITY])
    cond = pred
    for lang in _LANG_PRIORITY:
        cond = cond.when(
            (F.col(f"hits_{lang}") > 0) & (F.col(f"hits_{lang}") == best),
            F.lit(lang),
        )
    return scored.withColumn("lang_pred", cond.otherwise(F.lit("und")))


def quality_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heuristic quality score, all-integer arithmetic:
    length component (capped tokens/10) + lexical-diversity component
    (100*uniq/tokens) + a chars-in-range bonus. Matches the classic
    pretraining-filter shape (length / diversity / structure).

    Each document is split once: the token array is the output of a
    one-element explode, not a projected expression. A filter on the
    score above (``quality >= 60``) is pushed through a projection by
    inlining it, which put the split 4 times in the filter and 4 more
    in the projection; it cannot pass the explode that binds it."""
    toks = F.col("__toks")
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    n_chars = F.length(text_col)
    len_comp = F.least(F.lit(100), F.expr("size(__toks) div 10"))
    # floor integer division on both sides (DuckDB oracle uses //)
    div_comp = F.expr("(100 * size(array_distinct(__toks))) div size(__toks)")
    bonus = F.when((n_chars >= 100) & (n_chars <= 1000), 20).otherwise(0)
    return df.select(
        F.col(id_col),
        F.col(text_col),
        F.explode(F.array(tokens(text_col))).alias("__toks"),
    ).select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        n_uniq.alias("n_uniq_tokens"),
        (len_comp + div_comp + bonus).cast("bigint").alias("quality"),
    )


def repetition_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = (2, 3),
    top_ns: tuple[int, ...] = (),
) -> DataFrame:
    """Within-document repetition metrics — the Gopher-style repeated
    n-gram filters pretraining pipelines apply before dedup. For each
    n in ``ns``: ``dup_ngram_pct_n = 100 * (total - distinct) /
    total`` n-grams, integer floor arithmetic (engine-portable, no
    floats). For each n in ``top_ns``: ``top_ngram_pct_n = 100 *
    count(most frequent n-gram) / total`` — the OTHER Gopher rule,
    catching a document dominated by one repeated phrase even when
    its overall duplicate fraction is low. High values flag
    boilerplate/spam (lists, keyword stuffing, templated pages) that
    per-CORPUS dedup can't see.

    Pure Catalyst, ZERO shuffle: the most-frequent count is the
    longest run in the array_sort'ed gram array, computed with one
    per-row ``F.aggregate`` fold — no explode/groupBy, so the whole
    operator stays a narrow projection at scan speed (at 100 TB an
    explode would multiply the shuffle by tokens-per-doc)."""
    def max_run(arr: Column) -> Column:
        # count of the most frequent element = longest equal-run in
        # the sorted array; one in-row left fold, no shuffle
        acc0 = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        )

        def step(acc, x):
            run = F.when(
                x.eqNullSafe(acc.getField("prev")), acc.getField("run") + 1
            ).otherwise(F.lit(1))
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(acc.getField("best"), run).alias("best"),
            )

        return F.aggregate(
            F.array_sort(arr), acc0, step, lambda acc: acc.getField("best")
        )

    def pct(part: Column, total: Column) -> Column:
        p = F.when(
            total > 0, (F.lit(100) * part).cast("bigint") / total
        ).otherwise(F.lit(0))
        return F.floor(p).cast("bigint")

    def metrics(toks: Column) -> Column:
        # every gram array is bound once too: each is read two or
        # three times below
        fields = [F.size(toks).alias("n_tokens")]
        for n in ns:
            fields.append(
                bind(
                    ngrams(toks, n),
                    lambda g: pct(
                        F.size(g) - F.size(F.array_distinct(g)), F.size(g)
                    ),
                ).alias(f"dup_ngram_pct_{n}")
            )
        for n in top_ns:
            fields.append(
                bind(
                    ngrams(toks, n), lambda g: pct(max_run(g), F.size(g))
                ).alias(f"top_ngram_pct_{n}")
            )
        return F.struct(*fields)

    return df.select(
        F.col(id_col), over_tokens(text_col, metrics).alias("__m")
    ).select(id_col, "__m.*")


def build_vocab(
    df: DataFrame,
    max_vocab: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus vocabulary: the ``max_vocab`` most frequent whitespace
    tokens with occurrence count, document frequency, and a dense
    1-based rank (ties broken by token text, so the cut is
    deterministic).

    Scale shape (100 TB): explode + one groupBy(token) shuffle with
    map-side partial counts, then ``orderBy(...).limit(max_vocab)`` —
    Spark plans TakeOrderedAndProject (per-partition top-K merged on
    the driver), never a global sort. Only the bounded ``max_vocab``
    rows pass through the final single-partition rank window, the
    same bounded-metadata exception the IVF centroid build uses.
    """
    from pyspark.sql import Window

    if max_vocab <= 0:
        raise ValueError(f"max_vocab must be positive, got {max_vocab}")
    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    agg = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct(id_col).alias("n_docs"),
    )
    top = agg.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(max_vocab)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


def normalize_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical text normalization — the step that runs BEFORE
    near-dup detection so cosmetic variants (case, stray punctuation,
    ragged whitespace) hash/shingle identically:

    1. lowercase (ASCII + Unicode simple mapping, same rule both
       engines apply),
    2. strip punctuation/symbol marks — everything that is not a
       Unicode letter (``\\p{L}``), digit (``\\p{N}``), or whitespace.
       Script-preserving by design: CJK, Cyrillic, Arabic, accented
       text all survive (an ASCII-only class would normalize every
       non-Latin document to the empty string, which downstream dedup
       would then collapse into ONE duplicate group and silently
       delete),
    3. collapse whitespace runs to single spaces and trim.

    Emits ``(id_col, text, changed)`` where ``text`` is the
    normalized form and ``changed`` marks documents the pipeline
    actually rewrote (cheap provenance: downstream can skip re-work
    for untouched docs). A document of pure punctuation still
    normalizes to ``''`` — feed dedup with a ``text != ''`` guard if
    such docs exist. Pure Catalyst regexp expressions in the
    Java-regex/RE2 common subset (both support ``\\p{L}``/``\\p{N}``)
    — the DuckDB oracle reproduces the transform byte-for-byte."""
    lowered = F.lower(F.col(text_col))
    stripped = F.regexp_replace(lowered, r"[^\p{L}\p{N}\s]", "")
    collapsed = F.trim(F.regexp_replace(stripped, r"\s+", " "))
    return df.select(
        F.col(id_col),
        collapsed.alias(text_col),
        (collapsed != F.col(text_col)).alias("changed"),
    )


def doc_keywords(
    df: DataFrame,
    k: int,
    max_df: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinctive terms per document: for each doc, the ``k`` tokens
    most frequent IN that doc among tokens that are rare ACROSS the
    corpus (document frequency <= ``max_df``), ranked by (tf desc,
    token asc). An all-integer tf-idf surrogate: thresholding df and
    ranking by integer tf selects the same "frequent here, rare
    everywhere" terms a float ``tf * log(N/df)`` would, without the
    libm ``log`` whose rounding no two engines guarantee to agree on
    (the same portability rule the HLL estimator follows).

    Output: ``(id_col, token, tf, df, rank)``, ``rank`` 1-based per
    doc, at most ``k`` rows per doc.

    Scale shape (100 TB): explode -> one (doc, token) partial-agg
    shuffle; document frequency is a count over that already-distinct
    pair set (token-keyed shuffle of (token, doc) PAIRS, not raw
    occurrences); the df table filters BEFORE the join back, so only
    rare tokens rejoin; the final per-doc window ranks the few
    surviving (doc, rare-token) rows. No collects, no cartesian; every
    aggregate combines map-side.
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if max_df <= 0:
        raise ValueError(f"max_df must be positive, got {max_df}")
    tf = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tf"), F.asc("token"))
    return (
        tf.join(dfreq, on="token")
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(id_col, "token", "tf", "df", "rank")
    )


# PII patterns, applied IN ORDER (emails first, so the IP pattern
# never fires inside an already-redacted address). Regex syntax is the
# common subset of Java regex (Spark) and RE2 (DuckDB) — character
# classes, bounded repetition, and \b word boundaries only — so the
# oracle reproduces both the replacement and the match counts exactly.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\b[0-9]{3}-[0-9]{3,4}-[0-9]{4}\b", "<PHONE>"),
]


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scrub PII (emails, IPv4 addresses, dashed phone numbers) from
    ``text_col`` and count what was removed.

    Patterns apply sequentially; each ``n_<kind>`` counts matches on
    the text AS OF that step, so overlapping patterns never double
    count. Pure ``regexp_replace``/``regexp_extract_all`` Catalyst
    expressions — whole-stage codegen, scan speed at 100 TB, and an
    exact DuckDB twin (RE2 evaluates the same pattern subset
    identically).

    Output: ``(id_col, text, n_email, n_ip, n_phone)`` with ``text``
    fully redacted.
    """
    cur = F.col(text_col)
    counts = []
    for kind, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0))).alias(
                f"n_{kind}"
            )
        )
        cur = F.regexp_replace(cur, pat, repl)
    return df.select(F.col(id_col), cur.alias(text_col), *counts)


def doc_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Order-sensitive rolling document fingerprint: left fold of
    ``h' = (h*131 + md5_32(token)) mod 1e9+7`` over the token stream —
    a polynomial rolling hash whose every intermediate stays in int64,
    so Spark and DuckDB compute identical values. Being order
    sensitive, it distinguishes permuted documents that bag-of-words
    fingerprints collapse."""
    toks = tokens(text_col)
    hashed = F.transform(toks, lambda t: md5_int32(t))
    fp = F.aggregate(
        hashed,
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * FP_MULT + h) % FP_MOD,
    )
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def unigram_logprob(
    df: DataFrame,
    corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: int = 1,
) -> DataFrame:
    """Statistical LM quality score (the CCNet/Gopher perplexity-filter
    family, with the LM the engine can train in one aggregate): score
    every document by its mean token log-probability under an
    add-``alpha``-smoothed UNIGRAM model of ``corpus`` (default: the
    scored frame itself — self-scoring, the usual "filter the corpus
    by its own statistics" setup). Returns
    ``(id, n_tokens, logprob_per_token)`` — higher is more typical;
    filter the low tail the way perplexity filters do
    (perplexity = exp(-logprob_per_token)).

    Exactness: ``P(t) = (c_t + alpha) / (N + alpha * V)`` is a ratio of
    exact integers; ``ln`` is evaluated ONCE PER DISTINCT TOKEN on the
    count table through :func:`..exactmath.ln_libm` (Python/glibc libm
    — bitwise the oracle's ``ln``; Spark's JVM ``F.log`` disagrees
    with libm on ~4.4% of arguments, so the pre-round-10 per-occurrence
    ``F.log`` passed its gates on luck), and the per-document sum is a
    STRICT in-token-order fold (array_sort by position, then a left
    fold) — so the DuckDB oracle replays the float result bit-for-bit,
    the same discipline as the cosine folds.

    Scale shape: training is ONE hash aggregate over exploded tokens
    (map-side combine absorbs stopword skew); `N`/`V` are a bounded
    2-scalar collect; scoring joins each token occurrence to the
    DISTINCT-token count table — fan-out-free (a stopword matches one
    row), so no skew — then one per-document fold whose state is the
    document's own token list. Linear in corpus tokens, like the
    repeated-span dedup."""
    if alpha < 1:
        raise ValueError(f"alpha must be >= 1, got {alpha}")
    train = df if corpus is None else corpus
    toks_train = train.select(
        F.explode(tokens(text_col)).alias("tok")
    )
    counts = toks_train.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    # bounded-collect: the model's two normalization scalars
    nv = counts.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    ).head()
    denom = float(nv.n + alpha * nv.v)
    # ln on the VOCABULARY table (one Arrow pass over V rows), not the
    # occurrence stream — libm-exact vs the oracle (see docstring); a
    # token unseen in the training corpus scores the smoothed floor,
    # computed with the same libm driver-side
    from .exactmath import ln_libm

    import math

    lp_floor = math.log(alpha / denom)
    lp_tbl = counts.select(
        "tok",
        ln_libm((F.col("c") + F.lit(alpha)) / F.lit(denom)).alias("__lp"),
    )
    occ = df.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    scored = occ.join(lp_tbl, on="tok", how="left").select(
        id_col,
        "pos",
        F.coalesce(F.col("__lp"), F.lit(lp_floor)).alias("lp"),
    )
    per_doc = (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array_sort(
                F.collect_list(F.struct("pos", "lp"))
            ).alias("__lps"),
        )
        .select(
            id_col,
            "n_tokens",
            (
                F.aggregate(
                    F.col("__lps"),
                    F.lit(0.0),
                    lambda acc, s: acc + s["lp"],
                )
                / F.col("n_tokens")
            ).alias("logprob_per_token"),
        )
    )
    return per_doc
