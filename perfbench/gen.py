"""Seeded input generator for the benchmark.

Writes the ten tables the queries read (the TPC-H-like star schema, the
`events` stream table, `documents` and `embeddings`) as parquet, with the
schemas of the project's test fixtures (FIXTURES.md) and value ranges,
vocabulary and shares read off the sf0.01 tier of its test tables
(README.md lists them); the rest is synthetic. The same seed gives byte-identical table content; the
content hash printed by `content_hash` is how a run proves it.

`copies > 1` replicates the corpus tables (documents, embeddings) the way
ScaleSweep does, so the copies add work without adding duplicates:
  * each text copy goes through its own letter-substitution cipher, drawn
    from the seed and redrawn until the ciphered vocabularies of all
    copies are pairwise disjoint, so no two copies share a word shingle;
  * each vector copy is multiplied by its own sign pattern, a row of the
    64x64 Hadamard matrix drawn from the seed, so copies of one vector are
    decorrelated (any two patterns agree on exactly half the dimensions).
"""
import hashlib
import os
import string

import numpy as np
import pandas as pd

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = (["en", "de", "es", "fr", "zh"], [0.41, 0.14, 0.15, 0.15, 0.15])
ADJS = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
NOUNS = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DIM = 64

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return d.astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(rng, sf):
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    part = pd.DataFrame({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(rng.choice(ADJS, n_part), " "),
                              rng.choice(NOUNS, n_part)),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def events_table(rng, sf):
    n, users = int(1_000_000 * sf), int(15_000 * sf)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.unique(rng.integers(start, start + span, n + n // 10))
    ts = np.sort(rng.choice(ts, n, replace=False))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents_table(rng, n):
    lens = rng.integers(10, 100, n)
    words = rng.choice(WORDS, int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # one doc in twenty repeats another doc's text plus a marker word,
    # the near-duplicate shape the dedup queries look for
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS[0], n, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings_table(rng, n):
    v = rng.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n).astype(np.int32)})


def _ciphers(rng, copies):
    """One letter permutation per copy (copy 0 is the identity), redrawn
    until no ciphered word of one copy equals a word of another."""
    letters = string.ascii_lowercase
    out, seen = [letters], set(WORDS + ["dup"])
    while len(out) < copies:
        perm = "".join(rng.permutation(list(letters)))
        table = str.maketrans(letters, perm)
        vocab = {w.translate(table) for w in WORDS + ["dup"]}
        if vocab & seen:
            continue
        seen |= vocab
        out.append(perm)
    return out


def _hadamard(n):
    h = np.ones((1, 1))
    while h.shape[0] < n:
        h = np.block([[h, h], [h, -h]])
    return h


def replicate_corpus(rng, docs, emb, copies):
    letters = string.ascii_lowercase
    stride_d, stride_v = len(docs), len(emb)
    rows = rng.permutation(np.arange(1, DIM))[:copies - 1]
    signs = [np.ones(DIM)] + [_hadamard(DIM)[r] for r in rows]
    d_parts, v_parts = [], []
    for i, perm in enumerate(_ciphers(rng, copies)):
        table = str.maketrans(letters, perm)
        d = docs.copy()
        d["doc_id"] = docs["doc_id"] + i * stride_d
        d["text"] = [t.translate(table) for t in docs["text"]]
        d_parts.append(d)
        e = emb.copy()
        e["vec_id"] = emb["vec_id"] + i * stride_v
        e["embedding"] = [(x * signs[i]).astype(np.float32)
                          for x in emb["embedding"]]
        v_parts.append(e)
    return (pd.concat(d_parts, ignore_index=True),
            pd.concat(v_parts, ignore_index=True))


def generate(out_dir, seed, sf, corpus, copies):
    """Writes every table under `out_dir`: the star schema and events at
    scale factor `sf`, and `copies` copies of a `corpus`-row documents and
    embeddings base. Returns {table: row count}."""
    rng = np.random.default_rng(seed)
    tables = star_schema(rng, sf)
    tables["events"] = events_table(rng, sf)
    docs = documents_table(rng, corpus)
    emb = embeddings_table(rng, corpus)
    if copies > 1:
        docs, emb = replicate_corpus(rng, docs, emb, copies)
    tables["documents"], tables["embeddings"] = docs, emb
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        tables[name].to_parquet(os.path.join(out_dir, f"{name}.parquet"),
                                index=False)
    return {name: len(tables[name]) for name in TABLES}


def content_hash(out_dir):
    """sha256 over the table files; the writer is deterministic, so equal
    content gives equal bytes."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()
