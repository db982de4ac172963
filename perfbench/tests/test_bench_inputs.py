"""Fast checks of the benchmark's own pieces: seeded inputs, the result
comparison, span arithmetic and BENCHMARK.json. No Spark session.

Run: python3 -m pytest perfbench/tests/test_bench_inputs.py -q
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, tracing  # noqa: E402
from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.run import END_TO_END  # noqa: E402


def test_ingest_batch_is_a_function_of_the_seed():
    a = inputs.ingest_batch(7, 3, 500)
    assert a == inputs.ingest_batch(7, 3, 500)
    assert a != inputs.ingest_batch(8, 3, 500)
    assert a != inputs.ingest_batch(7, 4, 500)
    assert len(a) == 500


def test_ingest_batch_is_zipf_keyed_and_schema_shaped():
    rows = inputs.ingest_batch(1, 0, 2000)
    keys = [r["key"] for r in rows]
    # the most frequent user dominates a uniform draw over N_USERS users
    top = max(keys.count(k) for k in set(keys))
    assert top > 20 * len(rows) / inputs.N_USERS
    schema = json.load(open(os.path.join(inputs.SCHEMA_DIR, f"{inputs.TOPIC}.json")))
    props = schema["properties"]["value"]["properties"]
    for r in rows[:50]:
        v = json.loads(r["value"])
        assert set(v) == set(schema["properties"]["value"]["required"])
        assert v["region"] in props["region"]["enum"]
        assert v["event"] in props["event"]["enum"]
        assert v["amount"] >= 0


def test_query_order_is_a_seeded_permutation():
    names = inputs.ANALYTICS_QUERIES
    a = inputs.query_order(5, names)
    assert a == inputs.query_order(5, names)
    assert sorted(a) == sorted(names)
    assert any(inputs.query_order(s, names) != a for s in range(6, 12))


def test_record_digest_sum_is_order_insensitive():
    recs = [(f"k{i}", f"v{i}") for i in range(20)]
    fwd = sum(inputs.record_digest(k, v) for k, v in recs)
    rev = sum(inputs.record_digest(k.encode(), v.encode()) for k, v in reversed(recs))
    assert fwd == rev
    assert fwd != sum(inputs.record_digest(k, v) for k, v in recs[:-1] + [("k0", "v0")])


def test_canonical_maps_engine_types_and_sorts():
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    spark_side = inputs.canonical(
        ["b", "a"], [(decimal.Decimal("1.50"), ts), (None, ts)]
    )
    import numpy as np

    duck_side = inputs.canonical(
        ["a", "b"], [(np.datetime64("2024-01-02T03:04:05"), float("nan")), (ts, 1.5)]
    )
    assert spark_side == duck_side
    assert spark_side[0] == ("a", "b")


def test_tpch_replica_keeps_join_keys_unique(tmp_path):
    out = inputs.tpch_replica(inputs.SOURCE_DIR, str(tmp_path))
    assert inputs.tpch_replica(inputs.SOURCE_DIR, str(tmp_path)) == out
    for t, key in (("customer", "c_custkey"), ("orders", "o_orderkey"), ("part", "p_partkey")):
        src = pq.read_table(os.path.join(inputs.SOURCE_DIR, f"{t}.parquet"))
        rep = pq.read_table(os.path.join(out, f"{t}.parquet"))
        assert rep.schema == src.schema
        assert rep.num_rows == inputs.REPLICA_COPIES * src.num_rows
        assert len(set(rep[key].to_pylist())) == rep.num_rows
    nation = pq.read_table(os.path.join(out, "nation.parquet"))
    assert nation.num_rows == pq.read_table(os.path.join(inputs.SOURCE_DIR, "nation.parquet")).num_rows


def test_union_and_self_time():
    assert tracing.union_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert tracing.union_seconds([(0, 2)], 1, 10) == pytest.approx(1)
    tr = tracing.Tracer()
    tr.add("parent", 0.0, 10.0, None)
    pid = tr.spans[0]["id"]
    tr.add("child", 1.0, 4.0, pid)
    tr.add("child", 3.0, 5.0, pid)
    assert tr.self_times() == {"parent": pytest.approx(6.0), "child": pytest.approx(5.0)}


def test_benchmark_json_names_every_emitted_metric():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"ingest", "analytics", "operators"}
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
