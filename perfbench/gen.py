"""Seeded input generator for the benchmark workloads.

Every table is written as one Parquet file per table name into an
sf-dir layout (``<dir>/<table>.parquet``), the layout the engine's
``sources.readers.load_table`` and the catalog's DuckDB oracle views
read. The same ``(seed, size)`` always gives byte-identical tables; a
different seed changes the rows while keeping row counts and shape.

Each generator returns the input properties the workload records next
to its metrics.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per Parquet row group — small enough that Spark can split a file
#: into one scan partition per core once it outgrows the open-cost floor
ROW_GROUP = 65_536

EPOCH_2024_US = int(
    dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000
)
MONTH_US = 31 * 24 * 3600 * 1_000_000
N_CATEGORIES = 20  # the pipeline's category = item_id % 20


def _shuffled(rng: np.random.Generator, n: int, weights) -> np.ndarray:
    """``n`` draws from a discrete distribution with exact, seed-independent
    counts per value (stratified quantiles); only their order is random.
    Keeps the shape of the inputs fixed across seeds."""
    cdf = np.cumsum(weights, dtype=np.float64)
    return np.searchsorted(cdf / cdf[-1], (rng.permutation(n) + 0.5) / n)


def _zipf(k: int, a: float) -> np.ndarray:
    return 1.0 / np.arange(1, k + 1) ** a


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=ROW_GROUP
    )


# ---------------------------------------------------------------------------
# events (retail_features)
# ---------------------------------------------------------------------------


def events(rng: np.random.Generator, out_dir: str, n_events: int) -> dict:
    """Session-structured click stream over January 2024.

    Users visit in sessions of 1-12 events with 5 s - 10 min gaps (inside
    the pipeline's 30-minute session gap); a session mostly browses one
    category, so co-visitation and category affinity carry signal.
    ``purchase`` is the add-to-cart anchor event.
    """
    n_users = max(n_events // 20, 1)
    n_items = max(n_events // 40, N_CATEGORIES * 4)
    lens = np.tile(np.arange(1, 13), n_events // 78 + 1)  # 78 = 1 + ... + 12
    lens = lens[: int(np.searchsorted(np.cumsum(lens), n_events)) + 1]
    lens[-1] -= int(lens.sum()) - n_events
    lens = rng.permutation(lens)
    n_sess = len(lens)
    sess_of = np.repeat(np.arange(n_sess), lens)
    first = np.repeat(np.cumsum(lens) - lens, lens)

    user = rng.permutation(np.arange(n_sess) % n_users)[sess_of]
    start = rng.integers(0, MONTH_US - 4 * 3600 * 1_000_000, size=n_sess)
    gaps = rng.integers(5_000_000, 600_000_000, size=n_events)
    gaps[first == np.arange(n_events)] = 0
    # cumulative gap inside each session: global cumsum minus the
    # session's starting offset
    cum = np.cumsum(gaps)
    ts = EPOCH_2024_US + start[sess_of] + cum - cum[first]

    cat = rng.permutation(np.arange(n_sess) % N_CATEGORIES)[sess_of]
    rank = _shuffled(rng, n_events, _zipf(n_items // N_CATEGORIES, 1.3))
    in_cat = rng.permutation(n_events) < int(0.7 * n_events)
    other = rng.permutation(np.arange(n_events) % N_CATEGORIES)
    item = rank * N_CATEGORIES + np.where(in_cat, cat, other)

    types = np.array(["view", "click", "purchase", "signup", "error"])
    etype = types[_shuffled(rng, n_events, [0.70, 0.15, 0.10, 0.03, 0.02])]
    value = np.round(rng.random(n_events) * 1000.0, 2)

    order = np.argsort(ts, kind="stable")
    ts, user, item, etype, value = (
        a[order] for a in (ts, user, item, etype, value)
    )
    # strictly increasing microseconds, so no two anchors tie on time
    steps = np.arange(n_events)
    ts = np.maximum.accumulate(ts - steps) + steps
    props = [f'{{"k": {int(k)}}}' for k in item]
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]"), type=pa.timestamp("us")),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array(etype.astype(object), type=pa.string()),
            "value": pa.array(value),
            "props": pa.array(props, type=pa.string()),
        }
    )
    _write(table, out_dir, "events")
    return {
        "events": n_events,
        "users": int(len(np.unique(user))),
        "sessions": n_sess,
        "items": int(len(np.unique(item))),
        "add_to_cart_share": round(float(np.mean(etype == "purchase")), 6),
    }


# ---------------------------------------------------------------------------
# documents (corpus_neardup)
# ---------------------------------------------------------------------------

N_DOMAINS = 8  # src0 is the eval split


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = set()
    while len(out) < n:
        k = int(rng.integers(3, 9))
        out.add("".join(rng.choice(letters, size=k)))
    return np.array(sorted(out))


def documents(rng: np.random.Generator, out_dir: str, n_docs: int) -> dict:
    """Web-crawl-shaped documents with planted redundancy.

    Shares of the rows: exact duplicates (case and punctuation variants of
    an earlier doc), near duplicates (about 8% of tokens substituted, so
    3-gram Jaccard usually stays above 0.5), docs that copy an eval-split doc
    (contaminated), low-quality digit/punctuation junk the quality gate
    drops, and a pool of shared boilerplate spans that the duplicated-span
    stripper removes.
    """
    vocab = _words(rng, 4000)
    boiler = [
        " ".join(rng.choice(vocab, size=8)) for _ in range(24)
    ]
    pzipf = _zipf(len(vocab), 0.9)
    pzipf /= pzipf.sum()
    lengths = 24 + rng.permutation(np.arange(n_docs) % 72)

    def fresh(i: int) -> list[str]:
        return list(rng.choice(vocab, size=int(lengths[i]), p=pzipf))

    kinds = np.array(["base", "exact", "near", "contam", "junk"], dtype=object)[
        _shuffled(rng, n_docs, [0.74, 0.06, 0.12, 0.03, 0.05])
    ]
    domain = rng.permutation(np.arange(n_docs) % N_DOMAINS)
    texts: list[str] = []
    base_ids: list[int] = []  # copies are made of base docs only, so every
    eval_ids: list[int] = []  # duplicate cluster is a star of depth one
    for i in range(n_docs):
        kind = kinds[i] if min(len(eval_ids), len(base_ids)) >= 2 else "base"
        if kind == "exact":
            src = texts[base_ids[int(rng.integers(0, len(base_ids)))]]
            text = src.upper() if rng.random() < 0.5 else src.replace(" ", "  ") + "!"
        elif kind == "near":
            toks = texts[base_ids[int(rng.integers(0, len(base_ids)))]].split()
            for p in rng.integers(0, len(toks), size=max(1, len(toks) // 12)):
                toks[p] = str(rng.choice(vocab))
            text = " ".join(toks)
        elif kind == "contam":
            src = texts[eval_ids[int(rng.integers(0, len(eval_ids)))]]
            text = src.lower() + " " + " ".join(rng.choice(vocab, size=4))
            domain[i] = 1 + i % (N_DOMAINS - 1)
        elif kind == "junk":
            text = " ".join(
                f"{rng.integers(0, 10**6)}#{rng.integers(0, 99)}!?"
                for _ in range(int(rng.integers(3, 12)))
            )
        else:
            kinds[i] = "base"
            toks = fresh(i)
            if rng.random() < 0.12:
                p = int(rng.integers(0, len(toks)))
                toks[p:p] = boiler[int(rng.integers(0, len(boiler)))].split()
            text = " ".join(toks)
        if kinds[i] == "base":
            (eval_ids if domain[i] == 0 else base_ids).append(i)
        texts.append(text)
    ids = rng.permutation(n_docs).astype(np.int64)
    src = np.array([f"src{d}" for d in domain], dtype=object)
    table = pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(["en"] * n_docs, type=pa.string()),
            "source": pa.array(src, type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    _write(table, out_dir, "documents")
    return {
        "docs": n_docs,
        "exact_dup_share": round(float(np.mean(kinds == "exact")), 6),
        "near_dup_share": round(float(np.mean(kinds == "near")), 6),
        "contaminated_share": round(float(np.mean(kinds == "contam")), 6),
        "junk_share": round(float(np.mean(kinds == "junk")), 6),
        "domains": N_DOMAINS,
    }


# ---------------------------------------------------------------------------
# edges + embeddings (graph_embed)
# ---------------------------------------------------------------------------

EMBED_DIM = 64  # q_dedup_embed_vs_corpus_apply hashes 64-dim vectors


def graph(
    rng: np.random.Generator, out_dir: str, n_nodes: int, n_edges: int
) -> dict:
    """Directed edge list with power-law in-degree; about 5% of nodes are
    dangling (no out-edges), so PageRank's dangling-mass term is live."""
    label = rng.permutation(n_nodes).astype(np.int64)
    n_src = int(n_nodes * 0.95)
    src = rng.permutation(np.arange(n_edges) % n_src)
    hub = _shuffled(rng, n_edges, _zipf(n_nodes, 1.6))
    dst = np.where(rng.permutation(n_edges) % 2 == 0, hub, rng.integers(0, n_nodes, size=n_edges))
    # the first n_nodes edges reach every node, so the node count is exact
    dst[:n_nodes] = np.arange(n_nodes)
    table = pa.table({"src": pa.array(label[src]), "dst": pa.array(label[dst])})
    _write(table, out_dir, "edges")
    return {"nodes": n_nodes, "edges": n_edges}


def embeddings(rng: np.random.Generator, out_dir: str, n_vecs: int) -> dict:
    """Unit Gaussian 64-dim vectors; 5% are noisy copies (cosine ~0.99)
    of other rows, so the semantic-dedup verify stage has true hits
    besides the copies the catalog query plants itself."""
    v = rng.standard_normal((n_vecs, EMBED_DIM))
    n_dup = n_vecs // 20
    dup_of = rng.integers(0, n_vecs, size=n_dup)
    v[n_vecs - n_dup :] = v[dup_of] + 0.1 * rng.standard_normal((n_dup, EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    ids = rng.permutation(n_vecs).astype(np.int64)
    flat = pa.array(v.astype(np.float32).ravel())
    table = pa.table(
        {
            "vec_id": pa.array(ids),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n_vecs + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32)),
                flat,
            ),
            "label": pa.array(rng.integers(0, 10, size=n_vecs).astype(np.int32)),
        }
    )
    _write(table, out_dir, "embeddings")
    return {"vectors": n_vecs, "vector_dim": EMBED_DIM, "noisy_copy_share": round(n_dup / n_vecs, 6)}
