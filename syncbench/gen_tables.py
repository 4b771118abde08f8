"""Generator for the ten input tables of the query_mix workload.

The tables have the names, column types and value domains of the
repository's test data (TESTDATA.md, FIXTURES.md section B): a TPC-H-like
star schema plus `events`, `documents` and `embeddings`, at TPC-H scale
factor 0.01. The instance is fixed (seed 42), so the derived indexes some
queries build on first use stay valid across runs; a run's seed only
orders its passes. `write` gives byte-identical parquet files every time.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group big "
         "sort query fast the").split()
ADJ = ["blue", "hot", "small", "old", "new", "cold", "red", "large"]
NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]


def _days(rng, start, end, n):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


SEED = 42
# row counts per table; `users` is the number of distinct event users
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000, "lineitem": 60000,
        "events": 10000, "users": 150, "documents": 500, "embeddings": 500}


def generate():
    """Return {table name: DataFrame}."""
    rng = np.random.default_rng(SEED)
    n = ROWS
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    c = n["customer"]
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], c)})
    s = n["supplier"]
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2)})
    p = n["part"]
    retail = np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, p), rng.choice(NOUN, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": retail})
    o = n["orders"]
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, o), 2),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], o)})
    li = n["lineitem"]
    partkey = rng.integers(0, p, li).astype(np.int64)
    qty = rng.integers(1, 51, li).astype(np.float64)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(1.0, 2.1, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li)})
    e = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, e))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["users"], e).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e),
        "value": np.round(rng.exponential(50.0, e) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = [" ".join(rng.choice(VOCAB, k)) for k in rng.integers(10, 100, d)]
    # about one document in twenty is a near-duplicate of another one
    for i in rng.choice(d, d // 20, replace=False):
        j = int(rng.integers(0, d))
        if j != i and not texts[j].endswith(" dup"):
            texts[i] = texts[j] + " dup"
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(d, dtype=np.int64), "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], d,
                           p=[0.5, 0.125, 0.125, 0.125, 0.125]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    m = n["embeddings"]
    vecs = rng.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(m, dtype=np.int64), "embedding": list(vecs),
        "label": rng.integers(0, 10, m).astype(np.int32)})
    return t


def write(out_dir):
    """Generate and write every table as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in generate().items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(pa.schema([("vec_id", pa.int64()),
                                          ("embedding", pa.list_(pa.float32())),
                                          ("label", pa.int32())]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

