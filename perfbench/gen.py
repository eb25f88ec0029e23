"""Seeded input generator for the benchmark.

Writes the graft table set (region … lineitem, events, documents,
embeddings) as parquet, with the schemas and value ranges of the tables
TESTDATA.md and FIXTURES.md describe, plus the NDJSON event log the ingest workload
publishes. Everything is a pure function of (seed, scale): the same seed
gives byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["ring", "gear", "widget", "gizmo", "bolt", "plate", "rod", "anvil"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
DAY_US = 86_400_000_000


def _days(rng, n, first, last):
    """n midnight-aligned timestamps (µs) uniform in [first, last]."""
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * DAY_US


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def tables(out, seed, scale):
    """Star schema + events + LLM tables at `scale` (1.0 = sf1 row counts)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_evt, n_users = int(1_000_000 * scale), int(15_000 * scale)
    n_docs = int(max(500, 50_000 * scale))
    n_emb = int(max(500, 20_000 * scale))

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in
                   zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    per_order = 1 + rng.poisson(3.0, n_ord)
    n_li = int(per_order.sum())
    order = rng.permutation(n_li)
    write(out, "lineitem", {
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), per_order)[order],
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(_days(rng, n_li, "1995-01-02", "2001-11-04"))})
    write(out, "events", events(rng, n_evt, n_users))
    write(out, "documents", documents(rng, n_docs))
    write(out, "embeddings", embeddings(rng, n_emb))


def events(rng, n, n_users):
    """Event stream: ts sorted over 30 days (720 hours), µs precision."""
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * DAY_US, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}


def documents(rng, n):
    """Token texts; 5% are an earlier doc plus a ' dup' token, and eight
    of those copy the same source twice (exact-duplicate groups)."""
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 101)))
             for _ in range(n)]
    near = rng.choice(np.arange(n // 2, n), n // 20, replace=False)
    for j, i in enumerate(sorted(near)):
        src = int(rng.integers(0, n // 2)) if j % 2 or j >= 16 else int(j // 2)
        texts[i] = texts[src] + " dup"
    lang = rng.choice(LANGS, n, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n, dtype=np.int32)}


INVALID = [
    lambda e: '{"event_id": ' + str(e["event_id"]) + ', "ts": ',  # torn JSON
    lambda e: json.dumps({**e, "event_type": "bogus"}),
    lambda e: json.dumps({**e, "value": -1.5}),
    lambda e: json.dumps({k: v for k, v in e.items() if k != "user_id"}),
]


def ndjson(path, seed, n, n_users, invalid_share):
    """The ingest log: `n` valid events in ts order, with a seeded share of
    malformed or invalid lines interleaved."""
    rng = np.random.default_rng(seed + 1_000_003)
    ev = events(rng, n, n_users)
    ts = ev["ts"].to_numpy(zero_copy_only=False).astype("datetime64[us]")
    bad_at = set(rng.choice(n, int(n * invalid_share), replace=False).tolist())
    lines = []
    for i in range(n):
        e = {"event_id": int(ev["event_id"][i]),
             "ts": str(ts[i]),
             "user_id": int(ev["user_id"][i]),
             "event_type": str(ev["event_type"][i]),
             "value": float(ev["value"][i]),
             "props": ev["props"][i]}
        lines.append(json.dumps(e))
        if i in bad_at:
            lines.append(INVALID[i % len(INVALID)](e))
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
