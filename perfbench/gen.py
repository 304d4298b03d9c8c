"""Seeded input generator for the benchmark.

Writes the ten TPC-H-ish tables the package reads (``schemas.TESTDATA``:
region nation customer supplier part orders lineitem events documents
embeddings) as one parquet file each, with the same physical types as
the project's reference test data. The same ``(seed, scale)`` always
gives byte-identical tables; different seeds give different rows of the
same shape and size, so a run measures the program, not one lucky input.

Only numpy and pyarrow are used: generating the inputs never touches
Spark, so it costs nothing in the measured set-up of the program.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1.0 (TPC-H sf 0.01 proportions). The text and
# vector corpora do not grow with the relational scale.
_BASE = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "users": 150,
}
_VOCAB = (
    "hash order table window row batch big group a spark filter sort join "
    "line data column key merge agg small scan vector stream value "
    "customer slow part fast query the"
).split()
_LANGS = ("en", "en", "en", "en", "zh", "es", "de", "fr")
_SEGMENTS = ("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE")
_PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "big")
_PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")
_PTYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
_EMB_DIM = 64

# Orders and line items span the same calendar as the reference data:
# the star build keeps dates before 2001-01-01 and the paired reports
# read 1998.
_ORDER_LO = np.datetime64("1995-01-01")
_ORDER_DAYS = int((np.datetime64("2001-08-01") - _ORDER_LO).astype(int)) + 1
_EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((_ORDER_LO + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, scale: float, n_docs: int, n_vecs: int) -> None:
    """Write all ten tables for ``seed`` at ``scale`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(int(v * scale), 1) for k, v in _BASE.items()}

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc)),
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2)),
    })
    npart = n["part"]
    price = np.round(900 + (np.arange(npart) % 1000) * 0.1, 2)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array([
            f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, npart),
                                       rng.choice(_PART_NOUN, npart))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(_PTYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(price),
    })

    no = n["orders"]
    odays = rng.integers(0, _ORDER_DAYS, no)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), no)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": _ts(odays),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, no)),
    })
    per_order = rng.integers(1, 8, no)
    lk = np.repeat(np.arange(no, dtype=np.int64), per_order)
    nl = len(lk)
    starts = np.cumsum(per_order) - per_order
    linenum = (np.arange(nl) - np.repeat(starts, per_order) + 1).astype(np.int32)
    lpart = rng.integers(0, npart, nl, dtype=np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lk),
        "l_partkey": pa.array(lpart),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(linenum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[lpart], 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, nl) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, nl) / 100.0, 2)),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), nl)),
        "l_linestatus": pa.array(rng.choice(("F", "O"), nl)),
        "l_shipdate": _ts(np.repeat(odays, per_order) + rng.integers(1, 122, nl)),
    })

    ne = n["events"]
    gaps = rng.exponential(259.0, ne)
    ts = _EVENTS_T0 + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n["users"], ne, dtype=np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, ne)),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })

    # Documents: about a fifth are near-copies of an earlier document
    # (a few tokens replaced), so every dedup stage finds real pairs.
    docs: list[list[str]] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.2:
            toks = list(docs[int(rng.integers(0, i))])
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = "dup"
        else:
            toks = list(rng.choice(_VOCAB, int(rng.integers(10, 100))))
        docs.append(toks)
    text = [" ".join(t) for t in docs]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(_LANGS, n_docs)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })

    # Embeddings: unit vectors around ten cluster centres (label = centre).
    centres = rng.normal(size=(10, _EMB_DIM))
    label = rng.integers(0, 10, n_vecs)
    vecs = centres[label] + rng.normal(scale=1.5, size=(n_vecs, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
