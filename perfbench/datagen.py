"""Seeded synthetic inputs for the benchmark.

The tables follow the star schema the package reads
(``afg_data_pipeline_spark.schemas.STAR``): the same column names,
parquet physical types and value shapes as the engine's sf0.001
test fixtures. Table *content* is fixed (``CONTENT_SEED``) so every
seed measures the same work; the run seed only permutes the rows
of every table. A query whose output changes under that permutation
is order-dependent, and the oracle check counts it as a failure.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240101

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "large", "small", "red", "green", "hot", "dark"]
PART_NOUN = ["anvil", "widget", "bolt", "gear", "spring", "valve", "lever", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.38, 0.16, 0.16, 0.15, 0.15]
WORDS = (
    "scan column window order sort part agg value line key join merge "
    "group query a vector hash slow stream filter fast the batch spark "
    "table small data big customer row"
).split()

# Row counts of the sf0.001 fixtures.
BASE_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
}
N_EMBEDDINGS = 500

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: dt.date, offsets) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    vals = base + offsets.astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(vals, type=pa.timestamp("us"))


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.06:
            # near duplicate of an earlier document: same body, a
            # trailing marker token (the fixture's "dup" family)
            src = texts[int(rng.integers(0, i))]
            body = src.split()
            body = body + ["dup"] * int(rng.integers(0, 3))
            if rng.random() < 0.5 and len(body) > 12:
                del body[int(rng.integers(0, len(body)))]
            texts.append(" ".join(body))
            continue
        k = int(rng.integers(10, 100))
        texts.append(" ".join(rng.choice(WORDS, k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array(
                [f"src{i % 20}" for i in range(n)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(
                list(v), pa.list_(pa.field("element", pa.float32()))
            ),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def make_tables(n_docs: int) -> dict[str, pa.Table]:
    """The fixed-content tables with ``n_docs`` documents."""
    rng = np.random.default_rng(CONTENT_SEED)
    n = BASE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    np_ = n["part"]
    names = [
        f"{a} {b}"
        for a, b in zip(rng.choice(PART_ADJ, np_), rng.choice(PART_NOUN, np_))
    ]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": pa.array(names, pa.string()),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, np_)]
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, np_), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + np.arange(np_) / 10.0, 2)
            ),
        }
    )
    no = n["orders"]
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _days(dt.date(1995, 1, 1), odays),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
        }
    )
    nl = n["lineitem"]
    lok = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(
                np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)
            ),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
            "l_shipdate": _days(
                dt.date(1995, 1, 1), odays[lok] + rng.integers(1, 95, nl)
            ),
        }
    )
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(start + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 15, ne), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
            "value": pa.array(_money(rng, 0.01, 330.0, ne)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]
            ),
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, N_EMBEDDINGS)
    return t


def write_inputs(
    out_dir: str, seed: int, n_docs: int
) -> dict:
    """Write the seed's row permutation of every table to
    ``out_dir`` once; return {table: {"rows", "bytes"}}."""
    manifest = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            return json.load(fh)
    tmp = out_dir + ".partial"
    os.makedirs(tmp, exist_ok=True)
    perm_rng = np.random.default_rng([seed, 7])
    info = {}
    for name, table in make_tables(n_docs).items():
        order = perm_rng.permutation(table.num_rows)
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(table.take(pa.array(order)), path)
        info[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(info, fh)
    os.replace(tmp, out_dir)
    return info
