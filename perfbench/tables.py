"""Seeded TPC-H-ish tables for the ``operator_mix`` workload.

The registry queries read ``<dir>/<table>.parquet`` files. This module
writes the five tables the benchmark's query list touches, with the same
column names and parquet types as the repository's reference test data
(customer, orders, lineitem, events, documents), from a seed alone: the
same seed gives byte-identical files. Timestamps are written without a
time zone, so Spark reads them as TIMESTAMP_NTZ, like the reference data.

Sizes are fixed (``ROWS``); only the values depend on the seed.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 300, "orders": 3000, "lineitem": 12000,
        "events": 3000, "documents": 500}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark window order data column join small line customer query big "
         "stream sort group filter vector").split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = datetime.datetime(1995, 1, 1)
_EPOCH_2024 = datetime.datetime(2024, 1, 1)


def _ts(base: datetime.datetime, offsets_us: np.ndarray) -> pa.Array:
    start = int((base - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(start + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def generate(seed: int) -> dict:
    """{table name: pyarrow.Table} for ``seed``."""
    rng = np.random.default_rng(seed)
    n_c, n_o, n_l = ROWS["customer"], ROWS["orders"], ROWS["lineitem"]
    n_e, n_d = ROWS["events"], ROWS["documents"]

    custkey = np.arange(n_c, dtype=np.int64)
    customer = pa.table({
        "c_custkey": custkey,
        "c_name": ["Customer#{:09d}".format(k) for k in custkey],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": rng.choice(SEGMENTS, n_c),
    })

    orders = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": rng.choice(STATUSES, n_o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _ts(_EPOCH_1995, rng.integers(0, 2404, n_o) * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_o),
    })

    quantity = rng.integers(1, 51, n_l).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n_l).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * _money(rng, 900.0, 2100.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": _ts(_EPOCH_1995, rng.integers(1, 2500, n_l) * _DAY_US),
    })

    # strictly increasing event times over 30 days, microsecond resolution
    gaps = rng.integers(1, 2 * 30 * _DAY_US // n_e, n_e)
    events = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": _ts(_EPOCH_2024, np.cumsum(gaps)),
        "user_id": rng.integers(0, n_c // 2, n_e).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_e),
        "value": _money(rng, 0.01, 490.0, n_e),
        "props": ['{{"k": {}}}'.format(k) for k in rng.integers(0, 100, n_e)],
    })

    texts = [" ".join(rng.choice(VOCAB, int(k)))
             for k in rng.integers(8, 90, n_d)]
    documents = pa.table({
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_d),
        "source": ["src{}".format(i % 20) for i in range(n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem,
            "events": events, "documents": documents}


def write(seed: int, out_dir: str) -> dict:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in generate(seed).items():
        pq.write_table(table, os.path.join(out_dir, name + ".parquet"))
        counts[name] = table.num_rows
    return counts
