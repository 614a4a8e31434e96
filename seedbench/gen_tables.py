"""Seeded star-schema tables for the registry queries.

The schemas, row counts and value domains follow the repository's sf0.1
test tables (600k ``lineitem`` rows); the values are drawn from a numpy
generator seeded by the workload seed, and written with pyarrow so the
same seed gives byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a the batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join vector "
    "customer"
).split()
PART_WORDS = ["blue", "large", "hot", "small", "red", "green", "cold", "tiny", "old",
              "new", "ring", "bolt", "widget", "anvil", "gear", "nut", "spring"]


def _ts(days: np.ndarray, seconds: np.ndarray | None = None) -> pa.Array:
    """Epoch-day (+ second) offsets as ``timestamp[us]``."""
    us = days.astype("int64") * 86_400_000_000
    if seconds is not None:
        us = us + seconds.astype("int64")
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(abs(seed))  # numpy seeds must be non-negative
    n = {k: v if k in ("region", "nation") else max(10, int(v * scale)) for k, v in ROWS.items()}
    day_1995 = 9131  # 1995-01-01
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
        }),
    }
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32")),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32")),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    names = rng.choice(PART_WORDS[:9], npart).astype(object) + " " + rng.choice(PART_WORDS[9:], npart).astype(object)
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": pa.array(names.astype(str)),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, npart).astype(str))),
        "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart)),
        "p_size": pa.array(rng.integers(1, 51, npart).astype("int32")),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no).astype("int64"),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts(day_1995 + rng.integers(0, 2404, no)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
    })
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype("int64"),
        "l_partkey": rng.integers(0, npart, nl).astype("int64"),
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype("int32")),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _ts(day_1995 + 1 + rng.integers(0, 2499, nl)),
    })
    ne = n["events"]
    secs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(np.full(ne, 19723), secs),  # 2024-01-01 + up to 30 days
        "user_id": rng.integers(0, 1500, ne).astype("int64"),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, ne).astype(str)), "}")),
    })
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i and rng.random() < 0.02:  # exact duplicates for the dedup queries
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, nd)),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, nd).astype(str))),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    return out


def generate(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, str]:
    """Write every table as ``<out_dir>/<name>.parquet``, ``scale`` times the
    sf0.1 row counts; return the paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in _tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        paths[name] = path
    return paths
