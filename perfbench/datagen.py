"""Seeded input generators for the benchmark.

Two families, both pure numpy + pyarrow so generation needs no Spark:

- ``write_catalog_tables``: the ten tables the query catalog reads
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), in the schemas and value domains of the
  fixture tables described in FIXTURES.md section B. Row counts scale
  with ``sf`` the way the fixtures do.
- ``raw_month``: one month of raw FHVHV trips in the reference's raw
  schema (FIXTURES.md section A): ``PULocationID``/``DOLocationID`` as
  int64 plus the decoy columns ``trip_miles`` and ``trip_time`` that
  the load's projection must drop. ``pickup_datetime`` is unique across
  the whole generated history and sorted within a month, so a pickup
  range touches one data file and MERGE can key on it.

The same seed always gives byte-identical tables (``table_digest``
checks that).
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.145, 0.15, 0.15, 0.145]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000


def _ts_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_array(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def catalog_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (fixture scaling)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten catalog tables for ``(seed, sf)`` as Arrow tables."""
    rng = np.random.default_rng([seed, 1])
    n = catalog_sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
        "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
        "s_acctbal": _cents(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    keys = np.arange(npart, dtype="int64")
    names = np.char.add(
        np.char.add(np.array(_ADJ)[rng.integers(0, 8, npart)], " "),
        np.array(_NOUN)[rng.integers(0, 8, npart)],
    )
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype("int32"),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts_array(
            _ts_us(1995, 1, 1) + rng.integers(0, 2404, no) * _DAY_US
        ),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype("int64"),
        "l_partkey": rng.integers(0, npart, nl).astype("int64"),
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.uniform(0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_array(
            _ts_us(1995, 1, 2) + rng.integers(0, 2499, nl) * _DAY_US
        ),
    })
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts_array(
            _ts_us(2024, 1, 1) + np.sort(rng.integers(0, 30 * _DAY_US, ne))
        ),
        "user_id": rng.integers(0, max(15, nc // 10), ne).astype("int64"),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        r = rng.random()
        if i > 20 and r < 0.05:  # near-duplicate: an earlier doc + one word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = np.array(_WORDS)[rng.integers(0, len(_WORDS), rng.integers(10, 91))]
            texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype="int64"),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in texts], dtype="int64"),
    })
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype("int32"),
    })
    return t


def write_catalog_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every catalog table;
    returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in catalog_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows


# --- raw FHVHV months -------------------------------------------------------

LICENSES = ["HV0002", "HV0003", "HV0004", "HV0005"]
BASES = [f"B{3000 + 7 * i:05d}" for i in range(40)]


def raw_month(seed: int, year: int, month: int, rows: int) -> pa.Table:
    """One month of raw trips. Pickup times are distinct microsecond
    offsets into the month, sorted, so they are unique across months."""
    rng = np.random.default_rng([seed, year, month])
    start = _ts_us(year, month, 1)
    end = _ts_us(year + (month == 12), month % 12 + 1, 1)
    pickup = start + np.sort(rng.choice(end - start, rows, replace=False))
    trip_s = rng.integers(180, 3600, rows)
    request = pickup - rng.integers(30, 900, rows) * 1_000_000
    on_scene = request + rng.integers(10, 600, rows) * 1_000_000
    on_scene_arr = pa.array(
        on_scene.astype("int64"), type=pa.timestamp("us"),
        mask=rng.random(rows) < 0.3,
    )
    pay = _cents(rng, 5.0, 80.0, rows)
    return pa.table({
        "hvfhs_license_num": np.array(LICENSES)[rng.integers(0, 4, rows)],
        "dispatching_base_num": np.array(BASES)[rng.integers(0, len(BASES), rows)],
        "request_datetime": _ts_array(request),
        "on_scene_datetime": on_scene_arr,
        "pickup_datetime": _ts_array(pickup),
        "dropoff_datetime": _ts_array(pickup + trip_s * 1_000_000),
        "PULocationID": rng.integers(1, 266, rows).astype("int64"),
        "DOLocationID": rng.integers(1, 266, rows).astype("int64"),
        "trip_miles": np.round(rng.gamma(2.0, 2.5, rows), 2),
        "trip_time": trip_s.astype("int64"),
        "sales_tax": np.round(pay * 0.08875, 2),
        "congestion_surcharge": np.where(rng.random(rows) < 0.6, 2.75, 0.0),
        "airport_fee": np.where(rng.random(rows) < 0.1, 2.5, 0.0),
        "tips": np.where(rng.random(rows) < 0.2, _cents(rng, 1.0, 15.0, rows), 0.0),
        "driver_pay": pay,
    })


def table_digest(tbl: pa.Table) -> str:
    """md5 over the Arrow IPC bytes of ``tbl`` — equal iff the generated
    rows (values, order and types) are equal."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return hashlib.md5(sink.getvalue().to_pybytes()).hexdigest()
