"""Benchmark inputs: the table data the query workloads read, the seeded
ingest records and query orders, and the DuckDB oracle answers the
results are checked against.

Table data ships with the benchmark (``data/sf0.01``: the project's
sf0.01 test tables that the workloads read) so a run reads nothing
outside its checkout. The analytics workload needs compute-bound scans, so it reads a
10x key-strided replica of the TPC-H tables, built once per checkout
into the cache directory: every primary/foreign key of copy ``i`` is
shifted by ``i * (max key + 1)``, so each copy keeps every join
relationship of the original and the fact/dimension ratios stay the
same. The replica depends only on the shipped tables, never on the seed.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import shutil

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE_DIR = os.path.join(HERE, "data", "sf0.01")
SCHEMA_DIR = os.path.join(HERE, "schemas")
TOPIC = "bench_events"

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
REPLICA_COPIES = 10
# column -> (key family) for every key column the replica shifts.
_KEY_FAMILY = {
    "c_custkey": "cust", "o_custkey": "cust",
    "s_suppkey": "supp", "l_suppkey": "supp",
    "p_partkey": "part", "l_partkey": "part",
    "o_orderkey": "order", "l_orderkey": "order",
}
_FAMILY_SOURCE = {
    "cust": ("customer", "c_custkey"),
    "supp": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "order": ("orders", "o_orderkey"),
}
# name columns that embed their own key, rewritten per copy
_NAMED_KEYS = {"c_name": ("c_custkey", "Customer#"), "s_name": ("s_suppkey", "Supplier#")}

ANALYTICS_QUERIES = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q18_large_volume_customer",
    "tpch_q21_waiting_supplier",
)
OPERATOR_QUERIES = ("embeddings_dbscan_cosine", "streaming_interval_join")

REGIONS = ("africa", "america", "asia", "europe")
EVENTS = ("view", "click", "cart", "buy")
N_USERS = 20_000
ZIPF_S = 1.1


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def tpch_replica(source_dir: str, cache_root: str) -> str:
    """Directory holding the ``REPLICA_COPIES``-fold TPC-H replica of
    ``source_dir`` (built on first use, reused after)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = os.path.join(cache_root, f"tpch-x{REPLICA_COPIES}-{_digest(source_dir)}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    src = {t: pq.read_table(os.path.join(source_dir, f"{t}.parquet")) for t in TPCH_TABLES}
    stride = {
        fam: int(pc.max(src[t][col]).as_py()) + 1 for fam, (t, col) in _FAMILY_SOURCE.items()
    }
    for t, table in src.items():
        if not any(c in _KEY_FAMILY for c in table.column_names):
            pq.write_table(table, os.path.join(tmp, f"{t}.parquet"))
            continue
        copies = []
        for i in range(REPLICA_COPIES):
            cols = {}
            for c in table.column_names:
                col = table[c]
                if c in _KEY_FAMILY:
                    shift = pa.scalar(i * stride[_KEY_FAMILY[c]], col.type)
                    col = pc.add(col, shift)
                cols[c] = col
            for c, (key_col, prefix) in _NAMED_KEYS.items():
                if c in cols:
                    keys = cols[key_col].to_pylist()
                    cols[c] = pa.chunked_array([[f"{prefix}{k:09d}" for k in keys]], pa.string())
            copies.append(pa.table(cols, schema=table.schema))
        pq.write_table(pa.concat_tables(copies).combine_chunks(), os.path.join(tmp, f"{t}.parquet"))
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


# ------------------------------------------------------------ seeded inputs


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def query_order(seed: int, names: tuple[str, ...]) -> list[str]:
    """The seed's pass order over ``names``."""
    return [names[i] for i in _rng(seed, 1).permutation(len(names))]


_ZIPF_CDF = np.cumsum(1.0 / np.arange(1, N_USERS + 1) ** ZIPF_S)
_ZIPF_CDF /= _ZIPF_CDF[-1]


def ingest_batch(seed: int, cycle: int, size: int) -> list[dict[str, str]]:
    """Cycle ``cycle``'s batch: ``size`` schema-valid JSON records whose
    user keys follow a Zipf(``ZIPF_S``) law over ``N_USERS`` users."""
    rng = _rng(seed, 2, cycle)
    users = np.searchsorted(_ZIPF_CDF, rng.random(size))
    regions = rng.integers(0, len(REGIONS), size)
    events = rng.integers(0, len(EVENTS), size)
    cents = rng.integers(0, 100_000, size)
    return [
        {
            "key": f"user-{u:05d}",
            "value": json.dumps(
                {
                    "user_id": int(u),
                    "region": REGIONS[r],
                    "event": EVENTS[e],
                    "amount": c / 100,
                    "seq": cycle * size + i,
                },
                separators=(",", ":"),
            ),
        }
        for i, (u, r, e, c) in enumerate(zip(users, regions, events, cents))
    ]


def record_digest(key: bytes | str, value: bytes | str) -> int:
    """Order-insensitive checksum term of one record: summing the terms of
    a multiset of records (mod 2**64) gives the multiset's checksum."""
    if isinstance(key, str):
        key = key.encode()
    if isinstance(value, str):
        value = value.encode()
    h = hashlib.blake2b(key + b"\0" + value, digest_size=8).digest()
    return int.from_bytes(h, "little")


# ---------------------------------------------------------------- oracles


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        return float(v)
    if isinstance(v, (datetime.date, np.datetime64)):
        import pandas as pd

        return pd.Timestamp(v).isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    if hasattr(v, "asDict"):  # a Spark Row (a tuple) holding a struct
        v = v.asDict()
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    return v


def _sort_key(row):
    return tuple(
        (0, "") if v is None else (1, float(v), "") if isinstance(v, (int, float)) else (2, 0.0, repr(v))
        for v in row
    )


def canonical(columns: list[str], rows) -> tuple[tuple[str, ...], list[tuple]]:
    """Columns sorted by name and rows sorted, with engine-specific value
    types mapped to plain Python values, so that two results compare
    equal, exactly, whatever their row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(row[i]) for i in order) for row in rows]
    out.sort(key=_sort_key)
    return tuple(columns[i] for i in order), out


def oracle_answers(sf_dir: str, names: list[str]) -> dict[str, tuple]:
    """Each query's ``ORACLE`` SQL run by DuckDB over ``sf_dir``."""
    import duckdb

    from tansu_spark.queries import ORACLE

    con = duckdb.connect()
    try:
        for t in sorted(os.listdir(sf_dir)):
            if t.endswith(".parquet"):
                path = os.path.join(sf_dir, t)
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{path}'")
        out = {}
        for name in names:
            cur = con.execute(ORACLE[name])
            cols = [d[0] for d in cur.description]
            out[name] = canonical(cols, cur.fetchall())
        return out
    finally:
        con.close()
