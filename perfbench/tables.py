"""Seeded generator for the query-mix tables.

Writes the ten catalog tables (``oem_gateway_spark/catalog.py``) as one
parquet file each, with the schemas and value shapes of the TPC-H-style
test data: two-decimal prices, microsecond timestamps without a zone,
64-dimensional float embeddings and word-salad documents.  Row counts
scale with ``sf`` like TPC-H (lineitem is about 6,000,000 x sf).  The same
``(seed, sf)`` always gives the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small order customer query stream "
    "filter group big vector"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform two-decimal values in [lo, hi]."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; return the row count per table."""
    rng = np.random.default_rng([seed, 0x7AB1E5])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
    })
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * np.timedelta64(_DAY_US, "us")
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    per_order = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    n_line = okey.size
    linenumber = np.arange(n_line) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    sdate = _EPOCH_1995 + rng.integers(0, 2500, n_line) * np.timedelta64(_DAY_US, "us")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(linenumber.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 2100.0, n_line) * qty),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(sdate),
    })
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) * np.timedelta64(1, "us")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(50, int(15_000 * sf)), n_ev, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(40.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    lengths = rng.integers(8, 80, n_doc)
    texts = [" ".join(rng.choice(WORDS, n)) for n in lengths]
    # a few exact copies, so the dedup operators find groups
    for i in range(0, n_doc, 97):
        texts[(i * 31 + 7) % n_doc] = texts[i]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }


def write_event_stream(data_dir: str, out_dir: str, files: int) -> None:
    """Split the generated events, sorted by time, into ``files`` parquet
    files whose modification times follow event time, so a file stream
    that reads one file per trigger replays them in order.  ``ts`` is
    stored as a UTC timestamp, the type the catalog gives it."""
    t = pq.read_table(os.path.join(data_dir, "events.parquet"))
    t = t.set_column(t.schema.get_field_index("ts"), "ts",
                     t["ts"].cast(pa.timestamp("us", tz="UTC")))
    os.makedirs(out_dir, exist_ok=True)
    per = -(-t.num_rows // files)
    for k in range(files):
        path = os.path.join(out_dir, f"events-{k}.parquet")
        pq.write_table(t.slice(k * per, per), path)
        os.utime(path, (1_700_000_000 + k,) * 2)
