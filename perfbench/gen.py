"""Seeded input generation for the benchmark.

Writes the TPC-H-ish star schema plus the documents / embeddings /
events tables that the engine's queries read, one parquet file per
table, with the same schemas, value domains and single-row-group layout
as the sf0.1 test data the engine is developed against. Everything is
drawn from one numpy Generator seeded with the workload seed, so the
same seed always yields byte-identical inputs.

    python3 perfbench/gen.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_ROWS = 600_000
ORDERS_ROWS = 150_000
CUSTOMER_ROWS = 15_000
PART_ROWS = 20_000
SUPPLIER_ROWS = 1_000
DOC_ROWS = 5_000
EMB_ROWS = 2_000
EMB_DIM = 64
EVENT_ROWS = 100_000

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]

EPOCH_DAY = np.datetime64("1970-01-01", "D")


def days(s):
    return int((np.datetime64(s, "D") - EPOCH_DAY).astype(int))


def ts_from_days(d):
    return pa.array(d.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def cents(rng, lo, hi, n):
    """Uniform money values with two decimals, as doubles."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def pick(rng, values, n, p=None):
    idx = rng.choice(len(values), size=n, p=p).astype("int32")
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(values)) \
        .cast(pa.string())


def write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def lineitem_cols(rng):
    n = LINEITEM_ROWS
    return {
        "l_orderkey": pa.array(rng.integers(0, ORDERS_ROWS, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, PART_ROWS, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIER_ROWS, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(cents(rng, 900, 105000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pick(rng, ["A", "N", "R"], n),
        "l_linestatus": pick(rng, ["O", "F"], n),
        "l_shipdate": ts_from_days(
            rng.integers(days("1995-01-02"), days("2001-11-04") + 1, n)),
    }


def documents_cols(rng):
    texts = []
    for i in range(DOC_ROWS):
        # ~5% near-duplicates: an earlier document with one word appended
        if i > 100 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return {
        "doc_id": pa.array(np.arange(DOC_ROWS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pick(rng, LANGS, DOC_ROWS, LANG_P),
        "source": pick(rng, [f"src{i}" for i in range(20)], DOC_ROWS),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def embeddings_cols(rng):
    labels = rng.integers(0, 10, EMB_ROWS)
    centroids = rng.normal(size=(10, EMB_DIM))
    v = centroids[labels] * 0.35 + rng.normal(size=(EMB_ROWS, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    offsets = np.arange(0, (EMB_ROWS + 1) * EMB_DIM, EMB_DIM, dtype="int32")
    emb = pa.ListArray.from_arrays(pa.array(offsets), pa.array(v.reshape(-1)))
    return {
        "vec_id": pa.array(np.arange(EMB_ROWS), pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32()),
    }


def events_cols(rng):
    n = EVENT_ROWS
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span, n)) + start
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pick(rng, ["signup", "click", "error", "view", "purchase"], n),
        "value": pa.array(cents(rng, 0, 560, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(CUSTOMER_ROWS), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(CUSTOMER_ROWS)]),
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMER_ROWS), pa.int32()),
        "c_acctbal": pa.array(cents(rng, -999.99, 9999.99, CUSTOMER_ROWS)),
        "c_mktsegment": pick(rng, ["MACHINERY", "AUTOMOBILE", "FURNITURE",
                                   "HOUSEHOLD", "BUILDING"], CUSTOMER_ROWS)})
    write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(SUPPLIER_ROWS), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(SUPPLIER_ROWS)]),
        "s_nationkey": pa.array(rng.integers(0, 25, SUPPLIER_ROWS), pa.int32()),
        "s_acctbal": pa.array(cents(rng, -999.99, 9999.99, SUPPLIER_ROWS))})
    adj = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
    noun = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "pin"]
    write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(PART_ROWS), pa.int64()),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, PART_ROWS), rng.integers(0, 8, PART_ROWS))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, PART_ROWS)]),
        "p_type": pick(rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                             "PROMO"], PART_ROWS),
        "p_size": pa.array(rng.integers(1, 51, PART_ROWS), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(PART_ROWS) % 1000) / 10.0, 1))})
    write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(ORDERS_ROWS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, CUSTOMER_ROWS, ORDERS_ROWS), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], ORDERS_ROWS),
        "o_totalprice": pa.array(cents(rng, 1000, 500000, ORDERS_ROWS)),
        "o_orderdate": ts_from_days(
            rng.integers(days("1995-01-01"), days("2001-08-01") + 1, ORDERS_ROWS)),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                      "4-NOT SPECIFIED", "5-LOW"], ORDERS_ROWS)})
    write(out_dir, "lineitem", lineitem_cols(rng))
    write(out_dir, "documents", documents_cols(rng))
    write(out_dir, "embeddings", embeddings_cols(rng))
    write(out_dir, "events", events_cols(rng))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
