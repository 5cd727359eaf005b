"""Deterministic generator for the query workloads' input tables.

Writes the ten tables ``pumle_spark.tables.TABLE_NAMES`` reads (a TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``), one Parquet
file each, with the column names, physical types and value domains of the
reference test data. Row counts scale with ``sf`` the way TPC-H does.

The tables do not depend on the workload seed: the seed only permutes the
order in which queries run, so every run of a workload scans the same bytes.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
FORMAT_VERSION = 1

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(TABLE_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_event = int(1_000_000 * sf)
    n_user = int(15_000 * sf)
    n_doc = int(50_000 * sf)
    n_vec = int(50_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -1000, 10000, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -1000, 10000, n_supp),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    partkeys = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(partkeys, i64),
            "p_name": rng.choice(names, n_part).tolist(),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (partkeys % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, n_ord), pa.timestamp("us")),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n_line), pa.timestamp("us")),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, month_us, n_event)).astype(
        "timedelta64[us]"
    )
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_event), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_user, n_event), i64),
            "event_type": rng.choice(_EVENT_TYPES, n_event).tolist(),
            "value": np.round(rng.exponential(50.0, n_event), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_event)],
        }
    )
    texts: list[str] = []
    for d in range(n_doc):
        if d > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc, p=[0.42, 0.145, 0.145, 0.145, 0.145]).tolist(),
            "source": [f"src{d % 20}" for d in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    dim = 64
    centers = rng.normal(0.0, 0.15, (10, dim))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n_vec, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return out


def ensure_tables(root: str, sf: float) -> str:
    """Materialize the tables under ``root`` once and return their directory.

    The directory name carries the scale factor (the workload modules parse
    ``sf<digits>`` out of it) and a format version; a finished set is marked
    by a ``_DONE`` file so an interrupted generation is redone.
    """
    out_dir = os.path.join(root, f"tables_v{FORMAT_VERSION}", f"sf{sf:g}")
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for name, tbl in _tables(sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    with open(os.path.join(out_dir, "_DONE"), "w"):
        pass
    return out_dir
