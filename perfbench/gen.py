"""Seeded input generator for the benchmark workloads.

Writes ``events``, ``orders``, ``lineitem``, ``documents`` and
``embeddings`` as single parquet files in the schemas of the repository's
testdata (TESTDATA.md), so catalog queries and their DuckDB ``ORACLE``
SQL run on them unchanged.

Sizes are fixed per workload and only the content depends on the seed:
group-size profiles, duplicate counts and document lengths are the same
for every seed, so a pass does the same amount of work whatever the
seed, while keys, values, texts and vectors change with it.

Invariants the catalog oracles rely on:

* ``(l_linenumber, l_quantity, l_extendedprice)`` is unique per order
  (``scan_running_sum``'s tiebreak): every ``l_extendedprice`` is
  distinct across the whole table;
* ``(ts, event_id)`` is unique per user: ``event_id`` is a row number;
* ``doc_id == vec_id`` row for row (``hybrid_topk`` fuses the two);
* in ``nightly_ingest`` the stored corpus has ``doc_id % 4 != 0`` and
  every batch ``doc_id % 4 == 0``: the split ``dedup_incremental``'s
  oracle replays.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The catalog's own query terms: hybrid_topk ranks on
# 'spark join window filter', the indexed forms on 'merge sort stream
# table'; bm25_join takes the first four tokens of docs 3/7/11/19/23.
CATALOG_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

EMB_DIM = 64
ROW_GROUP = 65_536

SIZES = {
    "keyed_skew": {
        "hot_rows": 140_000,  # one user spanning 3 Arrow batches
        "tail_rows": 30_000,
        "tail_users": 1_500,
        "tail_zipf_s": 1.1,
        # orders and lineitem each plan above the 512 KiB broadcast
        # threshold keyed_skew runs with (pruned-scan estimates ~1.1 MiB)
        "orders": 120_000,
        "two_line_every": 4,
    },
    "corpus_pipeline": {
        "docs": 400,
        "exact_dup_rate": 0.02,
        "near_dup_rate": 0.05,
        "min_tokens": 24,
        "max_tokens": 120,
        "extra_vocab": 400,
    },
    "nightly_ingest": {
        "docs": 1_200,  # the stored corpus (doc_id % 4 != 0)
        "batch_docs": 120,  # one nightly batch (doc_id % 4 == 0)
        "exact_dup_rate": 0.02,
        "near_dup_rate": 0.05,
        "batch_dup_rate": 0.05,  # batch docs that near-dup the corpus
        "min_tokens": 24,
        "max_tokens": 120,
        "extra_vocab": 400,
    },
}

# Why each workload varies what it varies (recorded in every run's
# inputs manifest and printed by the runner).
WHY = {
    "keyed_skew": (
        "Zipf user keys with one hot user of hot_rows rows: the slowest "
        "task (the hot key's) sets the pass time of every per-key operator; "
        "orders/lineitem plan above the broadcast threshold so merge joins "
        "stay sort-merge joins; a streaming sessionization drains the same "
        "events with the hot key's session state in the state store"
    ),
    "corpus_pipeline": (
        "documents with stated exact- and near-duplicate rates and a Zipf "
        "vocabulary that contains the catalog query terms: dedup and BM25 "
        "construction (eager stats collects, checkpoint barriers) scale "
        "with the duplicate structure and document length"
    ),
    "nightly_ingest": (
        "a stored corpus plus one fresh batch per pass with new doc ids and "
        "a stated share of near-duplicates of stored documents: store "
        "append, stream drain, indexed probe and compaction work per batch"
    ),
}


def _ts_us(rng, n, start="2024-01-01", days=30):
    base = np.datetime64(start, "us").astype(np.int64)
    return np.sort(base + rng.integers(0, days * 86_400_000_000, n))


def write_table(path, cols):
    pq.write_table(pa.table(cols), path, row_group_size=ROW_GROUP)


def _events(rng, s):
    # deterministic group-size profile: one hot user plus a Zipf tail
    # whose sizes sum exactly to tail_rows; the seed permutes ids/values
    ranks = np.arange(1, s["tail_users"] + 1, dtype=np.float64)
    w = ranks ** -s["tail_zipf_s"]
    sizes = np.maximum(1, np.floor(w / w.sum() * s["tail_rows"])).astype(np.int64)
    sizes[0] += s["tail_rows"] - sizes.sum()
    n_users = s["tail_users"] + 1
    user_ids = rng.permutation(n_users * 3)[:n_users].astype(np.int64)
    per_user = np.concatenate([[s["hot_rows"]], sizes])
    users = np.repeat(user_ids, per_user)
    users = users[rng.permutation(users.size)]
    n = users.size
    ts = _ts_us(rng, n)
    etypes = np.array(["click", "view", "purchase", "signup", "error"])
    value = np.round(rng.exponential(50.0, n), 2)
    props = np.char.add(
        np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"
    )
    cols = {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(users),
        "event_type": pa.array(etypes[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array(props),
    }
    stats = {
        "rows": int(n),
        "users": int(n_users),
        "hot_user_rows": int(s["hot_rows"]),
        "largest_tail_group_rows": int(sizes.max()),
        "tail_zipf_s": s["tail_zipf_s"],
        "hot_share": round(s["hot_rows"] / n, 4),
    }
    return cols, stats


def _orders_lineitem(rng, s):
    n_o = s["orders"]
    # sparse random keys: the shuffle compresses them no better than
    # real order keys, so the shuffled side stays above the broadcast
    # threshold at a modest row count
    okeys = np.unique(rng.integers(0, 1 << 40, n_o + n_o // 50))
    okeys = rng.permutation(okeys)[:n_o].astype(np.int64)
    orders = {
        "o_orderkey": pa.array(okeys),
        "o_custkey": pa.array(rng.integers(0, n_o // 10, n_o).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n_o), 2)),
        "o_orderdate": pa.array(
            _ts_us(rng, n_o, "1992-01-01", 2500)[rng.permutation(n_o)].astype(
                "datetime64[us]"
            )
        ),
        "o_orderpriority": pa.array(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, n_o)
            ]
        ),
    }
    # every k-th order has two lines, the rest one (a fixed total, so
    # the join output size does not depend on the seed)
    per = 1 + (np.arange(n_o) % s["two_line_every"] == 0)
    lkeys = np.repeat(okeys, rng.permutation(per))
    n_l = lkeys.size
    # l_linenumber deliberately NOT unique per order (as in the
    # testdata); l_extendedprice is globally unique -> unique triple
    price_cents = rng.permutation(n_l).astype(np.int64) * 7 + 90_000
    li = {
        "l_orderkey": pa.array(lkeys),
        "l_partkey": pa.array(rng.integers(0, 20_000, n_l).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n_l).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(price_cents / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_l)]),
        "l_shipdate": pa.array(
            _ts_us(rng, n_l, "1992-01-01", 2600)[rng.permutation(n_l)].astype(
                "datetime64[us]"
            )
        ),
    }
    return orders, li, {"orders": int(n_o), "lineitem": int(n_l)}


def _vocab(s):
    return np.array(CATALOG_WORDS + [f"w{i:03d}" for i in range(s["extra_vocab"])])


def _texts(rng, s, n, vocab):
    """n random texts with a Zipf-ish vocabulary; lengths cycle
    deterministically over [min_tokens, max_tokens] and are permuted."""
    ranks = np.arange(1, vocab.size + 1, dtype=np.float64)
    # the catalog words lead the ranking, so query terms stay frequent
    p = ranks**-0.8
    p /= p.sum()
    span = s["max_tokens"] - s["min_tokens"] + 1
    lens = rng.permutation(s["min_tokens"] + np.arange(n) % span)
    words = vocab[rng.choice(vocab.size, int(lens.sum()), p=p)]
    out, at = [], 0
    for k in lens:
        out.append(" ".join(words[at : at + k]))
        at += k
    return out


def _near_dup(rng, text):
    """A near-duplicate: one token replaced and a marker appended —
    3-gram Jaccard stays well above the 1/2 verify threshold."""
    toks = text.split(" ")
    toks[int(rng.integers(len(toks)))] = "dup"
    return " ".join(toks + ["dup"])


def _documents(rng, s, ids, texts, n_exact, n_near):
    """Overwrite the texts of a stated number of docs (never the
    catalog's query docs 3/7/11/19/23) with exact / near copies of
    earlier docs."""
    n = len(texts)
    protected = {3, 7, 11, 19, 23}
    cand = [i for i in range(n // 2, n) if int(ids[i]) not in protected]
    pick = rng.permutation(len(cand))[: n_exact + n_near]
    for j, c in enumerate(pick):
        i = cand[c]
        src = int(rng.integers(0, n // 2))
        texts[i] = texts[src] if j < n_exact else _near_dup(rng, texts[src])
    return texts


def _doc_table(rng, ids, texts):
    n = len(texts)
    langs = np.array(["en", "en", "de", "fr", "es", "zh"])
    return {
        "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, langs.size, n)]),
        "source": pa.array(np.array([f"src{i % 5}" for i in range(n)])),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, ids):
    n = len(ids)
    cents = rng.normal(size=(10, EMB_DIM))
    label = rng.integers(0, 10, n)
    v = cents[label] + 0.7 * rng.normal(size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def _doc_stats(s, texts, n_exact, n_near, vocab):
    lens = [t.count(" ") + 1 for t in texts]
    return {
        "docs": len(texts),
        "exact_dup_docs": n_exact,
        "near_dup_docs": n_near,
        "exact_dup_rate": s["exact_dup_rate"],
        "near_dup_rate": s["near_dup_rate"],
        "tokens_per_doc_min": min(lens),
        "tokens_per_doc_max": max(lens),
        "tokens_per_doc_mean": round(sum(lens) / len(lens), 2),
        "vocab_size": int(vocab.size),
    }


def _corpus(rng, s, ids):
    vocab = _vocab(s)
    n = len(ids)
    n_exact = int(round(n * s["exact_dup_rate"]))
    n_near = int(round(n * s["near_dup_rate"]))
    texts = _documents(rng, s, ids, _texts(rng, s, n, vocab), n_exact, n_near)
    return texts, _doc_stats(s, texts, n_exact, n_near, vocab)


def batch(workload: str, seed: int, pass_no: int, corpus_texts: list[str]) -> dict:
    """The batch of new documents for pass ``pass_no``: the SAME texts
    every pass (so every pass does identical work), fresh doc ids
    ``% 4 == 0`` that neither the corpus nor an earlier pass used."""
    s = SIZES[workload]
    rng = np.random.default_rng([seed, 7])
    n = s["batch_docs"]
    texts = _texts(rng, s, n, _vocab(s))
    n_dup = int(round(n * s["batch_dup_rate"]))
    for i in rng.permutation(n)[:n_dup]:
        texts[i] = _near_dup(rng, corpus_texts[int(rng.integers(len(corpus_texts)))])
    base = 4 * (10_000_000 + pass_no * n)
    ids = [base + 4 * i for i in range(n)]
    return _doc_table(np.random.default_rng([seed, 8]), ids, texts)


def _key(workload, seed):
    blob = json.dumps(SIZES[workload], sort_keys=True).encode()
    return f"{workload}-s{seed}-{hashlib.sha1(blob).hexdigest()[:10]}"


def generate(workload: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """Write (or reuse) the inputs of ``workload`` for ``seed``; returns
    the data directory and its manifest. Cached on disk keyed by
    workload, seed and size."""
    out = os.path.join(cache_root, _key(workload, seed))
    manifest_path = os.path.join(out, "inputs.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return out, json.load(f)
    # the manifest is written last: a directory without one is an
    # interrupted generation and is written again
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    s = SIZES[workload]
    if workload == "keyed_skew":
        ev, ev_stats = _events(rng, s)
        orders, li, ol_stats = _orders_lineitem(rng, s)
        write_table(f"{out}/events.parquet", ev)
        write_table(f"{out}/orders.parquet", orders)
        write_table(f"{out}/lineitem.parquet", li)
        stats = {"events": ev_stats, **ol_stats}
    else:
        n = s["docs"]
        if workload == "nightly_ingest":
            ids = [i + i // 3 + 1 for i in range(n)]  # 1,2,3,5,6,7,9,...
        else:
            ids = list(range(n))
        texts, stats = _corpus(rng, s, ids)
        write_table(f"{out}/documents.parquet", _doc_table(rng, ids, texts))
        write_table(f"{out}/embeddings.parquet", _embeddings(rng, ids))
        if "batch_docs" in s:
            stats["batch_docs"] = s["batch_docs"]
            stats["batch_dup_rate"] = s["batch_dup_rate"]
    manifest = {
        "workload": workload,
        "seed": seed,
        "sizes": s,
        "properties": stats,
        "why": WHY[workload],
    }
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=1)
    return out, manifest
