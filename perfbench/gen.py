"""Seeded input generator for the benchmark.

Writes the ten tables the registered queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one snappy parquet file each, with the schema, value
domains and scale rules of the repo's TPC-H-ish test data. The same
(sf, seed) always gives byte-identical tables.

Also builds the table_mix op sequence (`ops_for`), which the JVM side
runs and the plain-Python replay in check.py repeats.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data query table row column key value join group order "
         "sort filter scan hash merge batch stream window agg spark fast "
         "slow big small part line customer vector").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

DAY_US = 86_400_000_000


def _ts(days_from_epoch):
    return pa.array(days_from_epoch.astype("int64") * DAY_US,
                    type=pa.timestamp("us"))


def _days(lo, hi, n, rng):
    a = np.datetime64(lo, "D").astype("int64")
    b = np.datetime64(hi, "D").astype("int64")
    return rng.integers(a, b + 1, n)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs(rng, n):
    """10-99 words drawn uniformly from WORDS; then one document in 20
    becomes a near duplicate: another document's text plus " dup"."""
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 100, n)]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return texts


def tables(sf, seed):
    """Return {name: pyarrow.Table} for scale factor `sf`."""
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = 500 if sf <= 0.01 else int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                             rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_days("1995-01-01", "2001-08-01", n_ord, rng)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_days("1995-01-02", "2001-11-04", n_line, rng))})
    start = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + start
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = _docs(rng, n_docs)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], i64)})
    # unit-norm Gaussian vectors; labels are independent of them
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return t


def write(sf, seed, out_dir):
    """Write the tables for (sf, seed) under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables(sf, seed).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=1 << 22)


# One table_mix block: 25 ops in a seeded order, maintenance (compact +
# vacuum) last. Every block holds the same mix, so block times compare.
BLOCK = (["read_eq"] * 10 + ["read_range"] * 4 + ["append"] * 5
         + ["delete"] * 2 + ["merge"] * 3)
MERGE_WINDOW = 400


def ops_for(seed, n_blocks, base_rows, salt=0):
    """Seeded op list for table_mix, `n_blocks` blocks long. Keys are
    row ids (`rid`): the base table holds rids 0..base_rows-1 and appends
    mint fresh rids above, so every op's effect is well defined for a
    replay. Appends copy ~0.5% of the base rows; a merge upserts a
    400-key window (some keys present, some deleted, some new)."""
    rng = np.random.default_rng([seed, 7919, salt])
    next_rid = base_rows
    append_n = max(1, base_rows // 200)
    ops = []
    for _ in range(n_blocks):
        for kind in map(str, rng.permutation(BLOCK)):
            hi = next_rid
            if kind in ("read_eq", "delete"):
                ops.append({"op": kind, "rid": int(rng.integers(0, hi))})
            elif kind == "read_range":
                lo = int(rng.integers(0, hi))
                ops.append({"op": kind, "lo": lo,
                            "hi": lo + int(rng.integers(50, 500))})
            elif kind == "append":
                ops.append({"op": kind, "first": next_rid, "n": append_n,
                            "src": int(rng.integers(0, base_rows - append_n))})
                next_rid += append_n
            else:
                ops.append({"op": kind,
                            "lo": int(rng.integers(0, hi - MERGE_WINDOW)),
                            "n": MERGE_WINDOW,
                            "src": int(rng.integers(0, base_rows - MERGE_WINDOW)),
                            "bump": round(float(rng.uniform(0.5, 5.0)), 2)})
        ops.append({"op": "compact"})
    return ops


def write_ops(path, ops):
    """One op a line: `<op> key=value ...`, the form the JVM side parses."""
    with open(path, "w") as f:
        for o in ops:
            f.write(" ".join([o["op"]] + [f"{k}={v}" for k, v in o.items()
                                          if k != "op"]) + "\n")


def write_mix_base(data_dir):
    """lineitem with a unique row id `rid` (its row number) in front."""
    path = os.path.join(data_dir, "mix_base.parquet")
    li = pq.read_table(os.path.join(data_dir, "lineitem.parquet"))
    rid = pa.array(np.arange(li.num_rows), pa.int64())
    pq.write_table(li.add_column(0, "rid", rid), path,
                   compression="snappy", row_group_size=1 << 22)
    return li.num_rows
