"""Seeded input generators: the registry's star schema and the screen's
bulks, written as parquet with pyarrow (no Spark job), and the engine's
fixture adsorbates.

The same seed gives the same tables. Column names, types and value
domains follow the star schema the registry's queries and oracles are
written against (TESTDATA.md); the bulks are written with the arrow form
of ``catlas_spark.schemas.BULKS`` and the engine's fixture element pool,
with KB-scale structure payloads.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from catlas_spark import schemas
from catlas_spark.sources.fixtures import ELEMENT_POOL, make_adsorbates

STAR_SIZES = {  # rows at scale factor 1
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "large", "new", "old", "hot", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _epoch_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype("int64"))


def write_star(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """All ten star tables at scale factor ``sf``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = {t: max(10, int(rows * sf)) for t, rows in STAR_SIZES.items()}

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    price = np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": price,
    })
    no = n["orders"]
    day0 = _epoch_us("1995-01-01")
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(day0 + odays * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
    })
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), lines)
    nl = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    pkey = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    n["lineitem"] = nl
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _ts(day0 + (odays[okey] + rng.integers(1, 122, nl)) * DAY_US),
    })
    ne = n["events"]
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, ne))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(_epoch_us("2024-01-01") + ev_us),
        "user_id": pa.array(rng.integers(0, max(10, ne // 66), ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(WORDS, int(k)).tolist()) for k in rng.integers(10, 100, nd)
    ]
    # ~5 % near-duplicates: another document's text plus a marker word
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return n


# Screen inputs ------------------------------------------------------------

BYTES_PER_ATOM = 64  # structure payload: a KB-scale opaque blob per bulk
BULK_SCHEMA = to_arrow_schema(schemas.BULKS)


def write_bulks(path: str, seed: int, start: int, n: int) -> dict:
    """Bulks ``mp-<start>`` .. ``mp-<start+n-1>``.

    The filtered-on attributes (element count, atom count, hull energy,
    band gap) are one fixed multiset per (start, n), dealt to the bulks
    in a seeded order: every seed screens the same amount of work, and
    the seed changes which bulk gets which attributes, the elements, the
    payload bytes, and with the ids every hash-driven enumeration."""
    fixed = np.random.default_rng([0, 2, start, n])
    natoms = fixed.integers(1, 121, n)
    nelem = fixed.integers(1, 4, n)
    hull = np.round(fixed.uniform(0.0, 0.3, n), 6)
    gap = np.round(fixed.uniform(0.0, 3.0, n), 6)
    r = np.random.default_rng([seed, 2, start, n])
    order = r.permutation(n)
    cols: dict[str, list] = {f.name: [] for f in BULK_SCHEMA}
    for i, j in enumerate(order):
        k = int(nelem[j])
        cols["bulk_id"].append(f"mp-{start + i}")
        cols["bulk_data_source"].append("synthetic_bulks")
        cols["bulk_natoms"].append(int(natoms[j]))
        cols["bulk_xc"].append("RPBE")
        cols["bulk_nelements"].append(k)
        cols["bulk_elements"].append(sorted(r.choice(ELEMENT_POOL, k, replace=False)))
        cols["bulk_e_above_hull"].append(float(hull[j]))
        cols["bulk_band_gap"].append(float(gap[j]))
        cols["bulk_structure"].append(r.bytes(int(natoms[j]) * BYTES_PER_ATOM))
    pq.write_table(pa.table(cols, schema=BULK_SCHEMA), path)
    payload = sum(len(b) for b in cols["bulk_structure"])
    return {"bulks": n, "payload_bytes_per_bulk": payload / n, "file_bytes": os.path.getsize(path)}


def write_adsorbates(spark, path: str) -> None:
    """The engine's 8 fixture adsorbates; fixed, so only the bulks vary
    with the seed."""
    make_adsorbates(spark).coalesce(1).write.parquet(path)
