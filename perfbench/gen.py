"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (`Tables.*`) as one single-row-group
parquet file each, with the column names, types and value distributions of
the synthetic star schema of TESTDATA.md: TPC-H-like dimensions and
facts, an `events` sensor stream, a `documents` text corpus with 5% planted
" dup" copies and unit-norm 64-d `embeddings`. The same seed and sizes give
byte-identical files; each table draws from its own seeded stream, so a
table's content does not depend on the sizes of the others.

`boilerplate` > 0 appends one shared seeded phrase to exactly that share of
the documents. Its word trigrams then occur in more documents than q26's
posting-list df cap (100), so q26's over-cap legs do real work.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000      # 1995-01-01 in epoch microseconds
EPOCH_2024 = 1_704_067_200_000_000    # 2024-01-01
ORDER_DAYS = 2404                     # 1995-01-01 .. 2001-08-01


def _rng(seed, table):
    # any integer seed: numpy's seed words must be non-negative
    return np.random.default_rng([seed % 2**64, sum(map(ord, table)) * 7919 + len(table)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _keys(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def sizes(sf, docs=None, embeddings=None):
    """Row counts at scale factor `sf` (sf 0.1 = Bench's size)."""
    return {"customer": int(150_000 * sf), "supplier": int(10_000 * sf),
            "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
            "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
            "users": max(1, int(15_000 * sf)),
            "documents": docs if docs is not None else int(50_000 * sf),
            "embeddings": embeddings if embeddings is not None else int(20_000 * sf)}


def tables(seed, sf, docs=None, embeddings=None, boilerplate=0.0):
    n = sizes(sf, docs, embeddings)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, "customer")
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": _keys("Customer", c),
        "c_nationkey": pa.array(r.integers(0, 25, c, dtype=np.int32)),
        "c_acctbal": _money(r, -999.99, 9999.99, c),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[r.integers(0, 5, c)]})

    r = _rng(seed, "supplier")
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": _keys("Supplier", s),
        "s_nationkey": pa.array(r.integers(0, 25, s, dtype=np.int32)),
        "s_acctbal": _money(r, -999.99, 9999.99, s)})

    r = _rng(seed, "part")
    p = n["part"]
    adj = np.array(["large", "hot", "blue", "red", "new", "old", "small", "green"])
    noun = np.array(["ring", "bolt", "rod", "anvil", "plate", "nut", "gear", "pipe"])
    keys = np.arange(p, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, p)], " "),
                              noun[r.integers(0, 8, p)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, p).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[r.integers(0, 6, p)],
        "p_size": pa.array(r.integers(1, 51, p, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})

    r = _rng(seed, "orders")
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, max(c, 1), o, dtype=np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, o)],
        "o_totalprice": _money(r, 1000.0, 500000.0, o),
        "o_orderdate": _ts(EPOCH_1995 + r.integers(0, ORDER_DAYS, o) * DAY_US),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[r.integers(0, 5, o)]})

    r = _rng(seed, "lineitem")
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, max(o, 1), li, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, max(p, 1), li, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, max(s, 1), li, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, li, dtype=np.int32)),
        "l_quantity": r.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 100000.0, li),
        "l_discount": r.integers(0, 11, li) / 100.0,
        "l_tax": r.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, li)],
        "l_shipdate": _ts(EPOCH_1995 + r.integers(0, ORDER_DAYS, li) * DAY_US)})

    r = _rng(seed, "events")
    e = n["events"]
    gaps = r.exponential(30 * DAY_US / max(e, 1), e)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps).astype(np.int64)),
        "user_id": pa.array(r.integers(0, n["users"], e, dtype=np.int64)),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[r.integers(0, 5, e)],
        "value": np.round(r.exponential(50.0, e), 2),
        "props": np.char.add(np.char.add('{"k": ', r.integers(0, 100, e).astype(str)), "}")})

    out["documents"] = _documents(seed, n["documents"], boilerplate)

    r = _rng(seed, "embeddings")
    m = n["embeddings"]
    v = r.standard_normal((m, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, m, dtype=np.int32))})
    return out


def _documents(seed, d, boilerplate):
    r = _rng(seed, "documents")
    words = np.array(VOCAB)
    texts = [" ".join(words[r.integers(0, len(VOCAB), k)])
             for k in r.integers(10, 101, d)]
    # planted near-duplicates: 5% of documents repeat another one's text.
    # Shares are exact counts, so every seed gives the operators equal work.
    for i in r.choice(d, round(0.05 * d), replace=False):
        texts[i] = texts[r.integers(0, d)] + " dup"
    if boilerplate > 0:
        phrase = " ".join(words[r.integers(0, len(VOCAB), 8)])
        for i in r.choice(d, round(boilerplate * d), replace=False):
            texts[i] = texts[i] + " " + phrase
    langs, weights = LANGS
    return pa.table({
        "doc_id": pa.array(np.arange(d, dtype=np.int64)),
        "text": texts,
        "lang": np.array(langs)[r.choice(len(langs), d, p=weights)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write(out_dir, seed, sf, docs=None, embeddings=None, boilerplate=0.0):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf, docs, embeddings, boilerplate).items():
        tmp = os.path.join(out_dir, f".{name}.parquet")
        pq.write_table(t, tmp, row_group_size=max(t.num_rows, 1))
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
