"""Seeded star schema for ``registry_headline``: the ten tables the registry
reads, with the schemas, key ranges and value domains of the project's
synthetic test data at scale factor 0.01 (lineitem 60k rows)."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
     "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
DIM = 64
_VOCAB = ("a agg batch big column customer data dup fast filter group hash join key"
          " line merge order part query row scan slow small sort spark stream table"
          " the value vector window").split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _days(rng, n: int, first: dt.date, last: dt.date) -> pa.Array:
    base = np.datetime64(first, "D")
    span = (last - first).days + 1
    d = base + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    type=pa.string())


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = N["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n),
    })
    n = N["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })
    n = N["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1),
    })
    n = N["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, N["customer"], n),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000, 500000),
        "o_orderdate": _days(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n),
    })
    n = N["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N["orders"], n),
        "l_partkey": rng.integers(0, N["part"], n),
        "l_suppkey": rng.integers(0, N["supplier"], n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900, 105000),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    n = N["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": _money(rng, n, 0.01, 490),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = N["documents"]
    texts = [" ".join(np.asarray(_VOCAB)[rng.integers(0, len(_VOCAB), k)])
             for k in rng.integers(10, 100, n)]
    out["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, ["en", "en", "en", "de", "es", "fr", "zh"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n = N["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, DIM))
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write(seed: int, out_dir: Path) -> dict[str, int]:
    """Write ``<table>.parquet`` files; returns each table's row count."""
    out_dir.mkdir(parents=True)
    rows = {}
    for name, table in tables(seed).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows
