"""Seeded inputs for the benchmark.

Everything the program receives is made here, from a seed:

- ``write_tables``: the ten star-schema tables (``region`` ...
  ``embeddings``) as one Parquet file each, with the schemas, Parquet
  types and value domains of the engine's synthetic fixtures
  (TPC-H-like dimensions, a sorted ``events`` stream, word-salad
  ``documents`` over a 31-word vocabulary, unit-norm 64-d
  ``embeddings``). The tables use a fixed seed, so every run measures
  the same data; the workload seed only picks what is done with it.
- ``doc_pool`` / ``corpus_delta``: corpus documents and the ingest
  deltas (fresh documents, re-keyed exact duplicates, one-word-edit
  near duplicates).
- ``vector_pool`` / ``vector_delta``: embeddings for the vector
  indexes and their ingest deltas.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TABLE_SEED = 20240101
EMB_DIM = 64
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)

# rows per table at scale 1.0 (the sf1-sized shape; sf0.001 = x0.001)
_SCALE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
               "orders": 1_500_000, "lineitem": 6_000_000,
               "events": 1_000_000, "users": 15_000}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start, n_days, rng, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def documents_frame(rng, ids: np.ndarray) -> pd.DataFrame:
    """Random word-salad documents (10-100 words) with the fixture's
    language mix; ``source`` and ``n_chars`` derive from id and text."""
    n = len(ids)
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return pd.DataFrame({
        "doc_id": ids.astype(np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def edit_one_word(rng, texts: list[str]) -> list[str]:
    """Each text with one randomly chosen word replaced."""
    out = []
    for t in texts:
        words = t.split(" ")
        words[int(rng.integers(0, len(words)))] = VOCAB[
            int(rng.integers(0, len(VOCAB)))]
        out.append(" ".join(words))
    return out


def unit_vectors(rng, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMB_DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def embeddings_frame(rng, ids: np.ndarray) -> pd.DataFrame:
    vecs = unit_vectors(rng, len(ids))
    return pd.DataFrame({
        "vec_id": ids.astype(np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, len(ids)).astype(np.int32),
    })


def write_tables(out_dir: str, scale: float, n_docs: int,
                 n_vecs: int) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; returns bytes per file."""
    rng = np.random.default_rng(TABLE_SEED)
    n = {k: max(1, int(v * scale)) for k, v in _SCALE_ROWS.items()}
    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                       "MIDDLE EAST"]}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
    }
    nc, ns, np_ = n["customer"], n["supplier"], n["part"]
    tables["customer"] = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    tables["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
            "widget"]
    tables["part"] = pd.DataFrame({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 2)})
    no, nl = n["orders"], n["lineitem"]
    tables["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _days("1995-01-01", 2405, rng, no),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days("1995-01-02", 2499, rng, nl)})
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne))
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    docs = documents_frame(rng, np.arange(n_docs))
    # every tenth document is a one-word edit of an earlier one, so the
    # near-duplicate queries find clusters
    src = rng.integers(0, n_docs, n_docs // 10)
    dst = np.arange(n_docs)[9::10][:len(src)]
    docs.loc[dst, "text"] = edit_one_word(rng, list(docs["text"].iloc[src]))
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    tables["documents"] = docs
    tables["embeddings"] = embeddings_frame(rng, np.arange(n_vecs))

    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, df in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(path, index=False)
        sizes[name] = os.path.getsize(path)
    return sizes


# -- corpus_ingest ------------------------------------------------------

def doc_pool(n: int) -> pd.DataFrame:
    """The standing corpus: ``n`` documents from the fixed table seed."""
    return documents_frame(np.random.default_rng(TABLE_SEED + 1),
                           np.arange(n))


def corpus_delta(rng, pool: pd.DataFrame, next_id: int, n_fresh: int,
                 n_exact: int, n_near: int) -> pd.DataFrame:
    """One ingest delta: ``n_fresh`` new documents, ``n_exact`` pool
    documents under new ids (exact duplicates) and ``n_near`` pool
    documents with one word replaced (near duplicates). Ids start at
    ``next_id`` and never repeat across deltas."""
    fresh = documents_frame(rng, np.arange(next_id, next_id + n_fresh))
    pick = rng.choice(len(pool), n_exact + n_near, replace=False)
    dups = pool.iloc[pick].reset_index(drop=True).copy()
    texts = list(dups["text"])
    texts[n_exact:] = edit_one_word(rng, texts[n_exact:])
    dups["text"] = texts
    dups["n_chars"] = dups["text"].str.len().astype(np.int64)
    dups["doc_id"] = np.arange(next_id + n_fresh,
                               next_id + n_fresh + len(dups),
                               dtype=np.int64)
    dups["source"] = [f"src{i % 20}" for i in dups["doc_id"]]
    return pd.concat([fresh, dups], ignore_index=True)


# -- vector_serve -------------------------------------------------------

def vector_pool(n: int) -> pd.DataFrame:
    """The standing vectors: ``n`` unit embeddings from the fixed seed."""
    return embeddings_frame(np.random.default_rng(TABLE_SEED + 2),
                            np.arange(n))


def vector_delta(rng, next_id: int, n: int) -> pd.DataFrame:
    return embeddings_frame(rng, np.arange(next_id, next_id + n)).drop(
        columns="label")

