"""Seeded input generator for the graft benchmark.

The table contents are fixed (drawn from BASE_SEED) and follow the
schemas and value domains of the engine's parquet fixtures (FIXTURES.md
section 2): a TPC-H-like star schema plus `events`, `documents` and
`embeddings`. The benchmark seed only decides the row order of every
table, so oracle results do not depend on it. For the co-occurrence
corpus the seed also shuffles the tokens inside each document.

Each table is written as one parquet file holding one row group, the
layout of the fixtures: splitting row groups would let Spark parallelise
scans that run as one task on the real inputs.

    python3 perfbench/gen.py <out_dir> <seed> <sf> [doc_replicas]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _date_us(rng, n, first, last):
    """Midnight timestamps (µs, no time zone) uniform in [first, last]."""
    d0 = np.datetime64(first, "D")
    days = (np.datetime64(last, "D") - d0).astype(int)
    d = d0 + rng.integers(0, days + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def base_tables(sf):
    """The fixed-content tables at scale factor `sf`."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    n_doc, n_emb = int(50_000 * sf), max(100, int(50_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _date_us(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _date_us(rng, n_li, "1995-01-02", "2001-11-04")})
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.exponential(40, n_ev), 490) + 0.01, 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
                          pa.string())})
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            n_tok = rng.integers(10, 100)
            texts.append(" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), n_tok)]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_doc),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n_doc),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    label = rng.integers(0, 10, n_emb)
    centre = rng.normal(0, 1, (10, 64))
    centre /= np.linalg.norm(centre, axis=1, keepdims=True)
    vec = 0.14 * centre[label] + rng.normal(0, 0.125, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return t


def _suffix(r):
    """Letter-only replica suffix: token classes stay `^[a-z-_]+$`."""
    s = ""
    while True:
        s = LETTERS[r % 26] + s
        r = r // 26 - 1
        if r < 0:
            return "x" + s


def corpus(docs, replicas, rng):
    """`replicas` copies of `docs`: copy 0 as is, copy r > 0 with every
    token suffixed by `_suffix(r - 1)`; tokens shuffled in each document."""
    texts = docs.column("text").to_pylist()
    out = []
    for r in range(replicas):
        suf = "" if r == 0 else _suffix(r - 1)
        for s in texts:
            toks = [w + suf for w in s.split(" ")]
            out.append(" ".join(toks[i] for i in rng.permutation(len(toks))))
    n = len(out)
    rep = lambda c: pa.concat_arrays([docs.column(c).combine_chunks()] * replicas)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(out, pa.string()),
        "lang": rep("lang"),
        "source": rep("source"),
        "n_chars": pa.array([len(s) for s in out], pa.int64())})


def generate(out_dir, seed, sf, doc_replicas=0):
    """Write every table to `out_dir`, rows permuted by `seed`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = base_tables(sf)
    if doc_replicas:
        tables["documents"] = corpus(tables["documents"], doc_replicas, rng)
    for name, tab in tables.items():
        tab = tab.take(pa.array(rng.permutation(tab.num_rows)))
        pq.write_table(tab, f"{out_dir}/{name}.parquet",
                       row_group_size=max(1, tab.num_rows))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]),
             int(sys.argv[4]) if len(sys.argv) > 4 else 0)
