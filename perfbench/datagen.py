"""Seeded synthetic inputs with the fixture schemas the declared queries read.

The ten tables (TPC-H-like star schema plus events, documents and
embeddings) follow the column names, types and value domains of the
project's fixtures, so every declared query finds rows to work on. Row
counts scale linearly with `scale` (1.0 = TPC-H scale factor 1); the
small dimension tables (nation, region) are fixed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000


def sizes(scale):
    """Row counts per table at `scale`."""
    return {
        "customer": max(150, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(200, int(200_000 * scale)),
        "orders": max(1_500, int(1_500_000 * scale)),
        "lineitem": max(6_000, int(6_000_000 * scale)),
        "events": max(1_000, int(1_000_000 * scale)),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _ts(micros):
    return pa.array(micros, type=pa.timestamp("us"))


def orders_table(rng, n, n_cust, first_key=0):
    """Orders rows with unique keys `first_key ..`; also the ingest schema."""
    return pa.table({
        "o_orderkey": pa.array(np.arange(first_key, first_key + n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, 1_000.0, 500_000.0, n)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2_404, n) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def lineitem_table(rng, n, sz):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, sz["orders"], n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, sz["part"], n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, sz["supplier"], n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts(EPOCH_1995 + DAY_US + rng.integers(0, 2_498, n) * DAY_US),
    })


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as the dedup queries expect
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n):
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32)),
        pa.array(v.reshape(-1), type=pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def _events(rng, n):
    gaps = rng.exponential(2_592_000_000_000 / n, n).astype(np.int64) + 1
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(15, n // 66), n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def build(seed, scale):
    """All ten tables as pyarrow Tables, deterministic in (seed, scale)."""
    rng = np.random.default_rng(seed)
    sz = sizes(scale)
    n = sz["customer"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9_999.99, n)),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })
    n = sz["supplier"]
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9_999.99, n)),
    })
    n = sz["part"]
    part = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)),
    })
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders_table(rng, sz["orders"], sz["customer"]),
        "lineitem": lineitem_table(rng, sz["lineitem"], sz),
        "events": _events(rng, sz["events"]),
        "documents": _documents(rng, sz["documents"]),
        "embeddings": _embeddings(rng, sz["embeddings"]),
    }


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
