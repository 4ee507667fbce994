"""Deterministic synthetic fixture tables for the benchmark.

Writes the ten catalog tables (``feray_spark.catalog.TABLES``) with the
schemas, key ranges and value shapes of the star-schema + events +
LLM-data fixtures described in ``FIXTURES.md``, so every catalog entry
and its DuckDB twin run unchanged on them. The content depends only on
the scale factor and ``DATA_SEED``; the workload seed never reaches
this module (it only reorders and samples, see ``run.py``).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: content seed of the generated tables (fixed: the workload seed
#: changes order and samples, never the data itself)
DATA_SEED = 42
#: bump when the generated content changes; cached tables carry it
DATA_VERSION = 1

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (fixture scaling rule:
    linear in sf, text and vector tables floored at 500 rows)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> dict:
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 11 and i > 0:
            # near-duplicate: an earlier document plus one token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i % 625 == 17 and i > 0:
            # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = row_counts(sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(_REGIONS),
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    }
    nc = n["customer"]
    t["customer"] = {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array(_names("Customer", nc)),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc)),
    }
    ns = n["supplier"]
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array(_names("Supplier", ns)),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    }
    npart = n["part"]
    keys = np.arange(npart)
    t["part"] = {
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array(
            [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2))]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    }
    no = n["orders"]
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
        "o_orderpriority": pa.array(rng.choice(_PRIOS, no)),
    }
    nl = n["lineitem"]
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
    }
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    t["events"] = {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne), i64),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, ne)),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    }
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    }
    return {name: pa.table(cols) for name, cols in t.items()}


def ensure_tables(out_dir: str, sf: float) -> str:
    """Write the tables for ``sf`` under ``out_dir`` once; later calls
    reuse them. A version marker written last guards against a
    half-written or outdated cache."""
    marker = os.path.join(out_dir, ".data_version")
    want = f"{DATA_VERSION}:{DATA_SEED}:{sf}"
    try:
        with open(marker) as fh:
            if fh.read().strip() == want:
                return out_dir
    except FileNotFoundError:
        pass
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as fh:
        fh.write(want)
    return out_dir
