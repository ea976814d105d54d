"""Seeded input generator: the TPC-H-ish star schema plus the `events`,
`documents` and `embeddings` tables the catalog reads.

The shapes follow the fixture tables the catalog is written against
(column names, parquet types, key ranges, value domains, the planted
near-duplicate documents); only the random draws depend on the seed.
Everything is made with numpy and pyarrow, never with Spark, so input
preparation costs the same whatever the engine under test does.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()

ORDER_DATE_LO = dt.datetime(1995, 1, 1)
ORDER_DATE_DAYS = (dt.datetime(2001, 8, 1) - ORDER_DATE_LO).days + 1
EVENT_TS_LO = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86_400_000_000


def _strings(rng, choices, n, p=None) -> pa.Array:
    idx = rng.choice(len(choices), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(choices)).cast(pa.string())


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(micros.astype(np.int64) + epoch, type=pa.timestamp("us"))


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _strings(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(npart, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": _strings(rng, names, npart),
        "p_brand": _strings(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _strings(rng, PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": _strings(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500_000, no),
        "o_orderdate": _ts(ORDER_DATE_LO, rng.integers(0, ORDER_DATE_DAYS, no) * 86_400_000_000),
        "o_orderpriority": _strings(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _strings(rng, ["A", "N", "R"], nl),
        "l_linestatus": _strings(rng, ["F", "O"], nl),
        "l_shipdate": _ts(ORDER_DATE_LO, rng.integers(1, ORDER_DATE_DAYS + 95, nl) * 86_400_000_000),
    })
    t["events"] = make_events(rng, n["events"], n["users"])
    t["documents"] = make_documents(rng, n["documents"])
    t["embeddings"] = make_embeddings(rng, n["embeddings"])
    return t


def make_events(rng, n: int, users: int, span_us: int = EVENT_SPAN_US, first_id: int = 0) -> pa.Table:
    """Events sorted by time with sub-second timestamps; `props` carries
    the ticket number the chats view joins on (`{"k": 0..99}`)."""
    micros = np.sort(rng.integers(0, span_us, n))
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": _ts(EVENT_TS_LO, micros),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": _strings(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": _strings(rng, [f'{{"k": {k}}}' for k in range(100)], n),
    })


def make_documents(rng, n: int) -> pa.Table:
    """Bag-of-words texts of 10-99 words; one in twenty is a copy of
    another document's text with a trailing ` dup` (the near-duplicate
    pairs the dedup queries look for)."""
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(WORDS[w] for w in words[pos:pos + k]))
        pos += k
    dups = rng.choice(n, size=n // 20, replace=False)
    src = rng.integers(0, n, n // 20)
    for d, s in zip(dups, src):
        if s != d:
            texts[d] = texts[s] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _strings(rng, LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def make_embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit vectors around ten weak cluster centres."""
    centres = rng.normal(size=(labels, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, labels, n)
    v = 0.07 * centres[label] + rng.normal(size=(n, dim)) / np.sqrt(dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": label.astype(np.int32),
    })


def write_inputs(seed: int, sf: float, out_dir: str) -> None:
    write_tables(make_tables(seed, sf), out_dir)


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def link_tables(src_dir: str, out_dir: str, names) -> None:
    """Hard-link unchanged tables into a per-day input directory."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        os.link(os.path.join(src_dir, f"{name}.parquet"), os.path.join(out_dir, f"{name}.parquet"))
