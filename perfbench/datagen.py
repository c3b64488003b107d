"""Deterministic input generation for the benchmark.

Two kinds of input, both pure functions of their seed:

* base tables — the TPC-H-shaped star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the engine's query roster
  reads, written as one parquet file per table. The schema and value
  domains mirror the tables the repository's tests and oracles are
  written against (``TESTDATA.md``). They use a fixed data seed, so
  every workload seed runs over the same tables.
* CDC changesets — seeded batches of updates (with duplicate keys
  resolved by ``seq``) and inserts against the ``orders`` snapshot.

Only numpy and pyarrow are used: no Spark, so generation is cheap and
identical on every host.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "old", "small", "red", "green", "cold"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "screw", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]

ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
])
CHANGESET_SCHEMA = ORDERS_SCHEMA.append(pa.field("seq", pa.int64()))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, base, n_days, n):
    return base + rng.integers(0, n_days, n) * np.timedelta64(1, "D")


def _orders(rng, n, n_cust) -> pa.Table:
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
        "o_orderdate": _dates(rng, _EPOCH_1995, 2404, n),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    }, schema=ORDERS_SCHEMA)


def _documents(rng, n) -> pa.Table:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:   # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n, dim=64, n_labels=10) -> pa.Table:
    labels = rng.integers(0, n_labels, n).astype(np.int32)
    centroids = rng.normal(0.0, 0.6, (n_labels, dim))
    vecs = rng.normal(0.0, 1.0, (n, dim)) + centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels,
    })


def base_tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Every base table at scale factor ``sf`` (sf 1 ≈ 6M lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(1, int(150_000 * sf)), max(1, int(10_000 * sf))
    n_part, n_ord = max(1, int(200_000 * sf)), max(1, int(1_500_000 * sf))
    n_line, n_evt = max(1, int(6_000_000 * sf)), max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    keys = np.arange(25, dtype=np.int32)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": keys,
                            "n_name": [f"NATION_{k}" for k in keys],
                            "n_regionkey": keys % 5})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    t["orders"] = _orders(rng, n_ord, n_cust)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _dates(rng, _EPOCH_1995 + np.timedelta64(1, "D"),
                             2499, n_line),
    })
    ts_us = np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _EPOCH_2024 + ts_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_evt, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table; the directory appears atomically."""
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out_dir)


def ensure_inputs(sf: float, cdc_rows: int, out_dir: str) -> str:
    """Generate the base tables at ``sf`` and the CDC base snapshot into
    ``out_dir`` once; later runs reuse them."""
    if not os.path.isdir(out_dir):
        tables = base_tables(sf)
        tables[f"cdc_orders_{cdc_rows}"] = cdc_base(cdc_rows)
        write_tables(tables, out_dir)
    return out_dir


def cdc_base(n_rows: int, seed: int = DATA_SEED) -> pa.Table:
    """The initial ``orders`` snapshot for cdc_upsert, with ``seq`` 0."""
    orders = _orders(np.random.default_rng(seed), n_rows, max(1, n_rows // 10))
    return orders.append_column("seq", pa.array(np.zeros(n_rows, np.int64)))


def changesets(seed: int, n_base: int, update_share: float = 0.03,
               n_inserts: int = 1000, dup_share: float = 0.1):
    """Endless seeded CDC batches against a snapshot of keys ``[0, n_base)``.

    Each batch updates ``update_share`` of the live keys, repeats
    ``dup_share`` of those keys a second time inside the batch with a
    higher ``seq`` (the later row must win), and inserts ``n_inserts``
    fresh keys. ``seq`` increases across batches, so the final state is
    "latest seq per key" — which is what the replay check computes."""
    rng = np.random.default_rng([seed, n_base])
    n_live, seq = n_base, 1
    while True:
        n_upd = max(1, int(n_live * update_share))
        upd = rng.choice(n_live, n_upd, replace=False).astype(np.int64)
        dup = upd[: max(1, int(n_upd * dup_share))]
        keys = np.concatenate([
            upd, np.arange(n_live, n_live + n_inserts, dtype=np.int64), dup])
        n = len(keys)
        yield pa.table({
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, max(1, n_base // 10), n,
                                      dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": _dates(rng, _EPOCH_1995, 2404, n),
            "o_orderpriority": rng.choice(PRIORITIES, n),
            "seq": np.arange(seq, seq + n, dtype=np.int64),
        }, schema=CHANGESET_SCHEMA)
        seq += n
        n_live += n_inserts
