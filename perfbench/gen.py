"""Seeded input tables for the benchmark.

Writes one parquet file per requested table (of region nation customer
supplier part orders lineitem events documents embeddings) with the schemas
and value domains of the repository's synthetic TPC-H-ish test data, so
every `SparkEntry.queries` entry and its DuckDB oracle run on them
unchanged. Each table draws from its own stream of the seed, so the same
seed and sizes give byte-identical values whichever other tables are
generated with it.
"""
import datetime as dt
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch + micros.astype(np.int64), type=pa.timestamp("us"))


def _days(base: dt.datetime, days: np.ndarray) -> pa.Array:
    return _ts(base, days.astype(np.int64) * 86_400_000_000)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _region(rng, sizes):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def _nation(rng, sizes):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def _customer(rng, sizes):
    n = sizes["customer"]
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)]})


def _supplier(rng, sizes):
    n = sizes["supplier"]
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})


def _part(rng, sizes):
    n = sizes["part"]
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2)})


def _orders(rng, sizes):
    n = sizes["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, sizes["customer"], n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _days(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)]})


def _lineitem(rng, sizes):
    n = sizes["lineitem"]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, sizes["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, sizes["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, sizes["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _days(dt.datetime(1995, 1, 2), rng.integers(0, 2498, n))})


def _events(rng, sizes):
    n = sizes["events"]
    secs = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), secs),
        "user_id": pa.array(rng.integers(0, max(1, n // 67), n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _documents(rng, sizes):
    n = sizes["documents"]
    texts = [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
             for _ in range(n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, sizes):
    n = sizes["embeddings"]
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(size=(10, 64))
    vecs = rng.normal(size=(n, 64)) + 0.15 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


BUILDERS = {"region": _region, "nation": _nation, "customer": _customer,
            "supplier": _supplier, "part": _part, "orders": _orders,
            "lineitem": _lineitem, "events": _events, "documents": _documents,
            "embeddings": _embeddings}


def tables(seed: int, sizes: dict, names: list) -> dict:
    """Table name -> pyarrow Table for each of `names`, generated from `seed`.
    `sizes` holds the row counts of the generated tables and of the tables
    whose keys they reference."""
    return {n: BUILDERS[n](np.random.default_rng([seed, zlib.crc32(n.encode())]), sizes)
            for n in names}


def write(seed: int, sizes: dict, names: list, out_dir) -> None:
    """Write each of `names` as `<out_dir>/<name>.parquet`."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables(seed, sizes, names).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
