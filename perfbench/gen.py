"""Seeded input generator for the benchmark.

`base(sf)` builds the ten fixture tables (the TESTDATA.md / FIXTURES.md
schemas: TPC-H-ish star, `events`, `documents`, `embeddings`) from a
fixed content seed, so every run sees the same rows. `write_copy`
writes one copy with every table's row order permuted by the run seed:
ids and content are unchanged, so by the SURVEY §2.10 determinism
contract every gate result must be identical across seeds, and a
fresh directory is a new input to every path-keyed cache in the
program.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
WORDS = ("a the data table row column key value part line order customer "
         "query scan filter join merge sort group agg hash window stream "
         "batch spark vector small big fast slow").split()
DAY_US = 86_400_000_000


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, n, values, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def base(sf):
    """The ten tables at scale factor `sf` (sf 0.01 ≈ 60k lineitem rows)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i64 = lambda a: pa.array(a, pa.int64())
    i32 = lambda a: pa.array(a, pa.int32())
    t = {}
    t["region"] = pa.table({
        "r_regionkey": i32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)])})
    t["customer"] = pa.table({
        "c_custkey": i64(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, n_cust, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                            "HOUSEHOLD", "MACHINERY"])})
    t["supplier"] = pa.table({
        "s_suppkey": i64(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj = "blue cold hot large new old red small".split()
    noun = "anvil bolt gear gizmo plate ring rod widget".split()
    t["part"] = pa.table({
        "p_partkey": i64(range(n_part)),
        "p_name": _pick(rng, n_part, [f"{a} {b}" for a in adj for b in noun]),
        "p_brand": _pick(rng, n_part, [f"Brand#{i}" for i in range(1, 26)]),
        "p_type": _pick(rng, n_part, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                      "SMALL", "STANDARD"]),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, n_ord, ["F", "O", "P"]),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, n_ord, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"])})
    t["lineitem"] = pa.table({
        "l_orderkey": i64(np.sort(rng.integers(0, n_ord, n_line))),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": _pick(rng, n_line, ["A", "N", "R"]),
        "l_linestatus": _pick(rng, n_line, ["F", "O"]),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    # ~30 days of events at a Poisson rate; strictly increasing µs stamps
    gaps = np.maximum(rng.exponential(30 * DAY_US / n_ev, n_ev).astype(np.int64), 1)
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": i64(range(n_ev)),
        "ts": pa.array(t0 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(rng, n_ev, ["click", "error", "purchase", "signup", "view"]),
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # 5% near-duplicates: an earlier document's text plus " dup"
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": i64(range(n_docs)),
        "text": texts,
        "lang": _pick(rng, n_docs, ["de", "en", "es", "fr", "zh"],
                      p=[0.14, 0.44, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": i64([len(x) for x in texts])})
    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": i64(range(n_vecs)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vecs))})
    return t


def write_copy(tables, out_dir, seed):
    """Write every table with its rows permuted by `seed`; returns
    {table: (rows, bytes)}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    sizes = {}
    for name in TABLES:
        tab = tables[name]
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab.take(rng.permutation(tab.num_rows)), path)
        sizes[name] = (tab.num_rows, os.path.getsize(path))
    return sizes
