"""Broker lifecycle tests: the produce→fetch path with offsets, watermarks,
idempotence, isolation, virtual topics, and group cursors — DuckDB
cross-checks the parquet segments where it matters (the lake is readable
by anything, per the reference's own oracle strategy)."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from tansu_spark.broker import Broker


@pytest.fixture()
def broker(spark, tmp_path):
    return Broker(spark, str(tmp_path / "store"))


def _rows(n, prefix="k", part_keys=None):
    return [
        {"key": f"{prefix}{i % (part_keys or n)}", "value": f"v{i}"} for i in range(n)
    ]


def test_create_describe_delete(broker):
    broker.create_topic("person", partitions=3, config={"tansu.virtual": "true"})
    cfg = broker.describe_topic("person")
    assert cfg.partitions == 3 and cfg.virtual and cfg.cleanup_policy == "delete"
    assert broker.topics() == ["person"]
    with pytest.raises(ValueError):
        broker.create_topic("person")
    broker.delete_topic("person")
    assert broker.topics() == []


def test_produce_fetch_roundtrip_offsets_contiguous(broker):
    broker.create_topic("t", partitions=2)
    broker.produce_rows("t", _rows(10))
    broker.produce_rows("t", _rows(10))
    marks = broker.list_offsets("t", "latest")
    assert sum(marks.values()) == 20
    # per-partition offsets are 0..n-1 with no gaps
    for p, hi in marks.items():
        offs = sorted(
            r.offset for r in broker.fetch("t", partition=p).select("offset").collect()
        )
        assert offs == list(range(hi))
    assert broker.list_offsets("t", "earliest") == {0: 0, 1: 0}


def test_fetch_from_offset_and_bytecap(broker):
    broker.create_topic("t", partitions=1)
    broker.produce_rows("t", [{"key": "k", "value": "x" * 100} for _ in range(10)])
    assert broker.fetch("t", partition=0, offset=7).count() == 3
    # 101 bytes/record → cap of 350 admits 3 records
    assert broker.fetch("t", partition=0, offset=0, max_bytes=350).count() == 3


def test_virtual_topic_keyed_fetch(broker):
    broker.create_topic("orders", partitions=2, config={"tansu.virtual": "true"})
    broker.produce_rows("orders", _rows(20, part_keys=4))
    only_k1 = broker.fetch("orders/k1")
    got = only_k1.select("key").distinct().collect()
    assert [r.key for r in got] == [b"k1"]
    broker.create_topic("plain", partitions=1)
    with pytest.raises(ValueError):
        broker.fetch("plain/k1")


def test_idempotent_producer_dedup(broker):
    broker.create_topic("t", partitions=1)
    r1 = broker.produce_rows("t", _rows(5), producer_id=1, base_sequence=0)
    dup = broker.produce_rows("t", _rows(5), producer_id=1, base_sequence=0)
    r2 = broker.produce_rows("t", _rows(5), producer_id=1, base_sequence=5)
    assert r1 == {0: 0} and dup == {} and r2 == {0: 5}
    assert broker.list_offsets("t", "latest") == {0: 10}
    # stale epoch is fenced
    with pytest.raises(ValueError, match="fenced"):
        broker.produce_rows(
            "t", _rows(1), producer_id=1, producer_epoch=-1, base_sequence=9
        )


def test_transactions_read_committed_visibility(broker):
    broker.create_topic("t", partitions=1)
    broker.produce_rows("t", _rows(3))
    broker.produce_rows("t", _rows(3), txn_id="tx1")
    # open txn: read_committed stops at LSO=3, uncommitted sees 6
    assert broker.fetch("t", isolation="read_committed").count() == 3
    assert broker.fetch("t").count() == 6
    assert broker.last_stable_offsets("t") == {0: 3}
    broker.end_txn("t", "tx1", commit=True)
    assert broker.fetch("t", isolation="read_committed").count() == 6
    # aborted ranges are excluded from read_committed forever
    broker.produce_rows("t", _rows(2), txn_id="tx2")
    broker.end_txn("t", "tx2", commit=False)
    assert broker.fetch("t", isolation="read_committed").count() == 6
    assert broker.fetch("t").count() == 8


def test_offsets_for_timestamp_and_group_cursors(broker):
    import datetime

    broker.create_topic("t", partitions=1)
    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 1, 2)
    broker.produce_rows("t", [{"key": "a", "value": "1", "timestamp": t0}])
    broker.produce_rows("t", [{"key": "b", "value": "2", "timestamp": t1}])
    assert broker.list_offsets("t", "2024-01-01 12:00:00") == {0: 1}
    broker.commit_offsets("g1", {("t", 0): 1})
    assert broker.fetch_offsets("g1", "t") == {0: 1}
    broker.commit_offsets("g1", {("t", 0): 2})
    assert broker.fetch_offsets("g1", "t") == {0: 2}


def test_segments_readable_by_duckdb(broker, tmp_path):
    """The reference's end-to-end oracle: the lake output is readable by
    DuckDB (README.md:163). Same claim for our parquet segments."""
    broker.create_topic("t", partitions=2)
    broker.produce_rows("t", _rows(12))
    n = duckdb.sql(
        f"SELECT count(*) FROM '{tmp_path}/store/topics/t/data/partition=*/*.parquet'"
    ).fetchone()[0]
    assert n == 12


def test_partition_pruning_in_fetch_plan(broker):
    """Fetch of one topition must prune the other partition directories
    (the scan spine: only partition=N is listed)."""
    broker.create_topic("t", partitions=4)
    broker.produce_rows("t", _rows(40, part_keys=16))
    plan = broker.fetch("t", partition=2)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "= 2)" in plan, plan
    # offset-range frontier reaches the parquet scan too
    assert "PushedFilters" in plan and "LessThan(offset" in plan, plan

def test_concurrent_producers_serialize_cleanly(broker):
    """Two threads producing to the same topic: the per-topic lock must
    serialize offset assignment — contiguous offsets, no loss, no dupes
    (the SELECT FOR UPDATE equivalent, pg.rs:793)."""
    import threading

    broker.create_topic("cc", partitions=2)
    errors = []

    def worker(tag):
        try:
            for i in range(3):
                broker.produce_rows(
                    "cc", [{"key": f"{tag}-{i}-{j}", "value": "x"} for j in range(4)]
                )
        except Exception as ex:  # pragma: no cover
            errors.append(ex)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    marks = broker.list_offsets("cc", "latest")
    assert sum(marks.values()) == 36  # 3 threads x 3 batches x 4 rows
    for p, hi in marks.items():
        offs = sorted(
            r.offset for r in broker.fetch("cc", partition=p).select("offset").collect()
        )
        assert offs == list(range(hi))  # contiguous, no dupes


def test_fetch_poll_long_poll_wakes_on_produce(broker):
    """Long-poll: blocks while the log is empty past the offset, wakes as
    soon as a concurrent produce bumps the watermark, and returns the new
    records. Timeout path returns an empty frame without waiting extra."""
    import threading
    import time as _time

    broker.create_topic("lp", partitions=1)
    broker.produce_rows("lp", _rows(3))

    def late_produce():
        _time.sleep(0.4)
        broker.produce_rows("lp", _rows(2, prefix="late"))

    t = threading.Thread(target=late_produce)
    t.start()
    start = _time.monotonic()
    out = broker.fetch_poll("lp", offset=3, min_records=2, max_wait_s=10.0)
    rows = out.collect()
    waited = _time.monotonic() - start
    t.join()
    assert {r["offset"] for r in rows} == {3, 4}
    assert waited < 8.0  # woke on produce, not the deadline

    # Deadline path: nothing past the watermark -> empty, promptly.
    start = _time.monotonic()
    empty = broker.fetch_poll("lp", offset=5, min_records=1, max_wait_s=0.3)
    assert empty.count() == 0
    assert _time.monotonic() - start < 5.0


def test_cross_topic_transaction_atomic_visibility(broker):
    """One transaction spanning two topics (AddPartitionsToTxn registers
    topitions across topics, lib.rs:1480-1517): read_committed must show
    NEITHER topic's txn rows before EndTxn and BOTH after — a single
    global state flip, no window where one topic shows and the other
    doesn't. Aborting likewise hides both."""
    broker.create_topic("a", partitions=1)
    broker.create_topic("b", partitions=1)
    broker.produce_rows("a", _rows(2))
    broker.produce_rows("a", _rows(3), txn_id="tx")
    broker.produce_rows("b", _rows(4), txn_id="tx")
    assert broker.fetch("a", isolation="read_committed").count() == 2
    assert broker.fetch("b", isolation="read_committed").count() == 0
    assert broker.last_stable_offsets("a") == {0: 2}
    assert broker.last_stable_offsets("b") == {0: 0}
    broker.end_transaction("tx", commit=True)
    assert broker.fetch("a", isolation="read_committed").count() == 5
    assert broker.fetch("b", isolation="read_committed").count() == 4

    broker.produce_rows("a", _rows(1), txn_id="tx2")
    broker.produce_rows("b", _rows(1), txn_id="tx2")
    broker.end_transaction("tx2", commit=False)
    assert broker.fetch("a", isolation="read_committed").count() == 5
    assert broker.fetch("b", isolation="read_committed").count() == 4
    assert broker.fetch("a").count() == 6
    assert broker.fetch("b").count() == 5


def test_range_assignor_contract():
    """RangeAssignor semantics (range.rs:31-120): members sorted by id,
    contiguous partition ranges, first (total % n) members get the extra
    partition, non-subscribers get nothing, and co-partitioned topics
    align on the same members."""
    from tansu_spark.broker.assignor import range_assign

    got = range_assign({"m2": ["t"], "m1": ["t"]}, {"t": 5})
    assert got == {"m1": {"t": [0, 1, 2]}, "m2": {"t": [3, 4]}}

    # co-partitioned topics land on the same members, range-aligned
    got = range_assign({"a": ["x", "y"], "b": ["x", "y"]}, {"x": 4, "y": 4})
    assert got["a"] == {"x": [0, 1], "y": [0, 1]}
    assert got["b"] == {"x": [2, 3], "y": [2, 3]}

    # more members than partitions: trailing members get nothing
    got = range_assign({"a": ["t"], "b": ["t"], "c": ["t"]}, {"t": 2})
    assert got == {"a": {"t": [0]}, "b": {"t": [1]}, "c": {}}

    # non-subscriber is skipped entirely
    got = range_assign({"a": ["t"], "b": []}, {"t": 3})
    assert got == {"a": {"t": [0, 1, 2]}, "b": {}}


def test_metrics_instrument_control_plane(broker):
    """produce/validation/store/maintenance land in the metrics registry
    under the reference's OTel histogram names (lib.rs:462-475)."""
    from tansu_spark import metrics as M
    from tansu_spark.lake.maintain import Maintainer
    from tansu_spark.lake.sink import LakeSink
    import os

    M.reset()
    broker.create_topic("t", partitions=1, config={"tansu.lake.sink": "true"})
    broker.produce_rows("t", _rows(4))
    sink = LakeSink(broker, os.path.join(broker.root, "lake"))
    sink.store("t")
    Maintainer(broker, sink).tick()

    snap = M.snapshot()
    for name in (
        "produce_duration",
        "lakehouse_store_duration",
        "lakehouse_maintenance_duration",
    ):
        assert snap[name]["count"] >= 1, name
        assert snap[name]["total_ms"] >= snap[name]["max_ms"] > 0, name
        assert snap[name]["mean_ms"] == snap[name]["total_ms"] / snap[name]["count"]


def test_transaction_timeout_sweep_restores_lso(broker):
    """A producer that vanishes mid-transaction must not hold the LSO
    down forever: the txn sweep aborts open txns past the timeout
    (Kafka's transaction.timeout.ms; the reference broker's 10 s txn
    sweep loop, broker.rs:242-258), and the aborted ranges stay
    invisible to read_committed."""
    import time as _t

    broker.create_topic("t", partitions=1)
    broker.produce_rows("t", _rows(3))
    broker.produce_rows("t", _rows(2), txn_id="ghost")
    assert broker.last_stable_offsets("t") == {0: 3}

    # not yet expired: nothing happens
    assert broker.maintain_transactions(timeout_s=60.0) == []
    assert broker.transactions()["ghost"]["state"] == "open"

    # expired: swept to aborted, LSO recovers, rows stay hidden
    assert broker.maintain_transactions(
        now=_t.time() + 120.0, timeout_s=60.0
    ) == ["ghost"]
    assert broker.transactions()["ghost"]["state"] == "aborted"
    assert broker.last_stable_offsets("t") == {0: 5}
    assert broker.fetch("t", isolation="read_committed").count() == 3
    assert broker.fetch("t").count() == 5


def test_delete_records_advances_log_start(broker):
    """DeleteRecords semantics: the low watermark is the visibility gate
    — deleted offsets vanish from fetch immediately (before any physical
    rewrite), earliest reflects the new log start, and the bound clamps
    to [low, high] and never regresses."""
    broker.create_topic("t", partitions=1)
    broker.produce_rows("t", _rows(10))

    assert broker.delete_records("t", {0: 4}) == {0: 4}
    assert broker.list_offsets("t", "earliest") == {0: 4}
    got = sorted(r.offset for r in broker.fetch("t").collect())
    assert got == list(range(4, 10))
    # fetch from below the log start is clamped by the gate
    assert broker.fetch("t", partition=0, offset=2).count() == 6

    # never regresses; clamps at high
    assert broker.delete_records("t", {0: 1}) == {0: 4}
    assert broker.delete_records("t", {0: 99}) == {0: 10}
    assert broker.fetch("t").count() == 0

    import pytest as _pytest

    with _pytest.raises(KeyError):
        broker.delete_records("t", {7: 1})


def test_alter_topic_config_incremental(broker):
    """IncrementalAlterConfigs semantics: merge sets, None deletes, and
    the new config drives the next maintenance decision (cleanup.policy
    flip switches the sweep from retention to compaction)."""
    broker.create_topic("t", partitions=1, config={"retention.ms": "1000"})
    got = broker.alter_topic(
        "t", {"cleanup.policy": "compact", "retention.ms": None}
    )
    assert got.cleanup_policy == "compact"
    assert got.retention_ms == 7 * 24 * 3600 * 1000  # back to the default
    assert broker.describe_topic("t").cleanup_policy == "compact"

    import pytest as _pytest

    with _pytest.raises(KeyError):
        broker.alter_topic("nope", {"a": "b"})


def test_create_partitions_grows_only_and_routes_new_produces(broker):
    """CreatePartitions: count grows (never shrinks), existing records
    keep their partition/offsets, and new produces route across the
    wider space with fresh watermarks for the added partitions."""
    broker.create_topic("t", partitions=1)
    broker.produce_rows("t", _rows(4))
    got = broker.create_partitions("t", 3)
    assert got.partitions == 3
    assert broker.list_offsets("t", "latest") == {0: 4, 1: 0, 2: 0}

    # old records untouched; new keyed produce spreads over 3 partitions
    assert broker.fetch("t", partition=0).count() == 4
    broker.produce_rows("t", [{"key": f"x{i}", "value": "v"} for i in range(12)])
    latest = broker.list_offsets("t", "latest")
    assert sum(latest.values()) == 16 and len(latest) == 3
    assert sum(1 for v in latest.values() if v > 0) >= 2  # actually spread

    import pytest as _pytest

    with _pytest.raises(ValueError, match="only grow"):
        broker.create_partitions("t", 2)
    with _pytest.raises(KeyError):
        broker.create_partitions("nope", 5)


def test_txn_state_machine_guards(broker):
    """Only open→committed/aborted transitions are legal (TxnState,
    lib.rs:1288-1341): re-ending a terminal txn raises InvalidTxnState
    instead of silently flipping state (commit on a sweep-aborted txn
    must not resurrect excluded ranges), and produce into a terminal
    txn_id is rejected before any segment is written."""
    import time as _t

    from tansu_spark.broker.broker import InvalidTxnState

    broker.create_topic("t", partitions=1)
    broker.produce_rows("t", _rows(2), txn_id="tx")
    broker.end_transaction("tx", commit=True)
    with pytest.raises(InvalidTxnState):
        broker.end_transaction("tx", commit=False)  # un-commit: never
    with pytest.raises(InvalidTxnState):
        broker.end_transaction("tx", commit=True)  # double-commit: no
    with pytest.raises(InvalidTxnState):
        broker.produce_rows("t", _rows(1), txn_id="tx")
    assert broker.fetch("t").count() == 2  # rejected produce wrote nothing

    # Sweep-aborted txn stays aborted: commit cannot resurrect it.
    broker.produce_rows("t", _rows(3), txn_id="ghost")
    assert broker.maintain_transactions(now=_t.time() + 120.0) == ["ghost"]
    with pytest.raises(InvalidTxnState):
        broker.end_transaction("ghost", commit=True)
    assert broker.fetch("t", isolation="read_committed").count() == 2


def test_txn_timeout_configurable(broker):
    """transaction.timeout.ms is broker config, not a hardcoded 60 s: a
    legitimate transaction spanning multiple slow produce jobs survives
    the sweep when the operator raises the timeout."""
    import time as _t

    broker.create_topic("t", partitions=1)
    broker.produce_rows("t", _rows(2), txn_id="slow")

    broker.alter_broker_config({"transaction.timeout.ms": "600000"})
    assert broker.txn_timeout_s() == 600.0
    assert broker.maintain_transactions(now=_t.time() + 120.0) == []
    assert broker.transactions()["slow"]["state"] == "open"

    broker.alter_broker_config({"transaction.timeout.ms": None})  # back to default
    assert broker.txn_timeout_s() == 60.0
    assert broker.maintain_transactions(now=_t.time() + 120.0) == ["slow"]


def test_legacy_per_topic_txns_migrate(spark, tmp_path):
    """Upgrade path: legacy per-topic topics/<name>/txns.json documents
    ({txn_id: {state, ranges}}) fold into the store-global registry on
    broker init — an old OPEN txn keeps holding the LSO down and an old
    ABORTED range stays invisible to read_committed."""
    import os

    from tansu_spark.broker.state import write_json_atomic

    root = str(tmp_path / "store")
    b = Broker(spark, root)
    b.create_topic("t", partitions=1)
    b.produce_rows("t", _rows(3))
    b.produce_rows("t", _rows(2))  # offsets 3-4, will be legacy-aborted

    # Simulate a pre-upgrade store: global registry gone, legacy file present.
    if os.path.exists(os.path.join(root, "txns.json")):
        os.remove(os.path.join(root, "txns.json"))
    write_json_atomic(
        os.path.join(root, "topics", "t", "txns.json"),
        {
            "old-open": {"state": "open", "ranges": {"0": [1, 2]}},
            "old-abort": {"state": "aborted", "ranges": {"0": [3, 5]}},
        },
    )

    b2 = Broker(spark, root)  # init runs the migration
    txns = b2.transactions()
    assert txns["old-open"]["state"] == "open"
    assert txns["old-open"]["topics"] == {"t": {"0": [1, 2]}}
    assert txns["old-abort"]["topics"] == {"t": {"0": [3, 5]}}
    # Legacy file renamed so the fold never re-runs.
    assert not os.path.exists(os.path.join(root, "topics", "t", "txns.json"))
    # Semantics restored: open txn holds LSO at 1; aborted range hidden.
    assert b2.last_stable_offsets("t") == {0: 1}
    assert b2.fetch("t", isolation="read_committed").count() == 1
    assert b2.fetch("t").count() == 5


def test_roundrobin_assignor_contract():
    """RoundRobinAssignor: all (topic, partition) pairs dealt over the
    member ring; non-subscribers are skipped without consuming a slot."""
    from tansu_spark.broker.assignor import roundrobin_assign

    got = roundrobin_assign({"a": ["t"], "b": ["t"]}, {"t": 5})
    assert got == {"a": {"t": [0, 2, 4]}, "b": {"t": [1, 3]}}

    # two topics: the deal interleaves across topics too
    got = roundrobin_assign({"a": ["x", "y"], "b": ["x", "y"]}, {"x": 2, "y": 2})
    assert got == {"a": {"x": [0], "y": [0]}, "b": {"x": [1], "y": [1]}}

    # b not subscribed to x: a takes all of x, ring still fair on y
    got = roundrobin_assign({"a": ["x", "y"], "b": ["y"]}, {"x": 2, "y": 2})
    assert got["a"]["x"] == [0, 1]
    assert sorted(got["a"].get("y", []) + got["b"].get("y", [])) == [0, 1]
    assert got["b"]["y"]  # b gets y work

    # more members than partitions
    got = roundrobin_assign({"a": ["t"], "b": ["t"], "c": ["t"]}, {"t": 2})
    assert got == {"a": {"t": [0]}, "b": {"t": [1]}, "c": {}}


def test_cooperative_sticky_assignor_contract():
    """CooperativeStickyAssignor: stickiness, balance on join/leave,
    fair-share revocation."""
    from tansu_spark.broker.assignor import cooperative_sticky_assign

    # fresh group: balanced
    got = cooperative_sticky_assign({"a": ["t"], "b": ["t"]}, {"t": 4})
    assert sorted(got["a"]["t"] + got["b"]["t"]) == [0, 1, 2, 3]
    assert abs(len(got["a"]["t"]) - len(got["b"]["t"])) == 0

    # member joins: a keeps its fair share (ceil(4/2)=2), b gets the rest
    got = cooperative_sticky_assign(
        {"a": ["t"], "b": ["t"]}, {"t": 4}, {"a": {"t": [0, 1, 2, 3]}}
    )
    assert got == {"a": {"t": [0, 1]}, "b": {"t": [2, 3]}}

    # stickiness: owners keep their partitions when balanced already
    cur = {"a": {"t": [1, 3]}, "b": {"t": [0, 2]}}
    got = cooperative_sticky_assign({"a": ["t"], "b": ["t"]}, {"t": 4}, cur)
    assert got == {"a": {"t": [1, 3]}, "b": {"t": [0, 2]}}

    # member leaves: orphans flow to the survivor, its keeps untouched
    got = cooperative_sticky_assign({"a": ["t"]}, {"t": 4}, {"a": {"t": [1, 3]}})
    assert got == {"a": {"t": [0, 1, 2, 3]}}

    # unsubscribed member owns nothing of that topic
    got = cooperative_sticky_assign(
        {"a": ["t"], "b": []}, {"t": 2}, {"b": {"t": [0]}}
    )
    assert got == {"a": {"t": [0, 1]}, "b": {}}


def test_virtual_topic_uuid5_identity(broker):
    """Virtual-topic ids are UUIDv5 over the reference's tag URI
    (pg.rs:1340-1360): deterministic across brokers, stable across calls,
    distinct per key, and persisted in the topic document."""
    import uuid as _uuid

    broker.create_topic("person", partitions=2, config={"tansu.virtual": "true"})
    a = broker.virtual_topic_id("person", "alice")
    b = broker.virtual_topic_id("person", "bob")
    assert a == broker.virtual_topic_id("person", "alice")  # stable
    assert a != b
    expect = str(
        _uuid.uuid5(_uuid.NAMESPACE_URL, "tag:nisshi.io,2026-04:virtual:person:alice")
    )
    assert a == expect
    assert _uuid.UUID(a).version == 5

    broker.create_topic("plain", partitions=1)
    with pytest.raises(ValueError, match="not virtual"):
        broker.virtual_topic_id("plain", "k")


def test_per_batch_compression_codec(broker):
    """compression.type is per-BATCH (deflated.rs:341-380): segments
    written under different configs carry different parquet codecs in
    the same topic, and every reader — fetch and DuckDB alike — is
    oblivious to the mix."""
    import glob
    import os

    import pyarrow.parquet as pq

    broker.create_topic("mix", partitions=1, config={"compression.type": "snappy"})
    broker.produce_rows("mix", _rows(4))
    broker.alter_topic("mix", {"compression.type": "gzip"})
    broker.produce_rows("mix", _rows(4, prefix="g"))
    broker.alter_topic("mix", {"compression.type": "none"})
    broker.produce_rows("mix", _rows(4, prefix="n"))

    data = os.path.join(broker.root, "topics", "mix", "data")
    codecs = set()
    for f in glob.glob(os.path.join(data, "partition=*", "*.parquet")):
        meta = pq.ParquetFile(f).metadata
        codecs.add(meta.row_group(0).column(0).compression)
    assert codecs == {"SNAPPY", "GZIP", "UNCOMPRESSED"}, codecs
    assert broker.fetch("mix").count() == 12  # readers see one log

    with pytest.raises(KeyError):
        broker.create_topic("bad", config={"compression.type": "brotli9000"})
        broker.produce_rows("bad", _rows(1))


def test_describe_configs_effective_values_and_sources(broker):
    """DescribeConfigs: defaults surface with DEFAULT_CONFIG provenance,
    topic-set keys flip to DYNAMIC_TOPIC_CONFIG, deletion restores the
    default, unknown keys still appear."""
    broker.create_topic(
        "dc", partitions=1, config={"cleanup.policy": "compact", "my.custom": "x"}
    )
    by_name = {c["name"]: c for c in broker.describe_configs("dc")}
    assert by_name["cleanup.policy"] == {
        "name": "cleanup.policy", "value": "compact", "source": "DYNAMIC_TOPIC_CONFIG",
    }
    assert by_name["retention.ms"]["source"] == "DEFAULT_CONFIG"
    assert by_name["retention.ms"]["value"] == str(7 * 24 * 3600 * 1000)
    assert by_name["tansu.schema.wire"]["value"] == "json"
    assert by_name["my.custom"]["value"] == "x"

    broker.alter_topic("dc", {"cleanup.policy": None})
    by_name = {c["name"]: c for c in broker.describe_configs("dc")}
    assert by_name["cleanup.policy"] == {
        "name": "cleanup.policy", "value": "delete", "source": "DEFAULT_CONFIG",
    }


def test_consumer_lag_report(broker):
    broker.create_topic("lagt", partitions=2)
    broker.produce_rows("lagt", _rows(10))  # 10 rows over 2 partitions
    marks = broker.list_offsets("lagt", "latest")
    broker.commit_offsets("g", {("lagt", 0): 2})
    lag = broker.consumer_lag("g", "lagt")
    assert lag[0]["committed"] == 2 and lag[0]["lag"] == marks[0] - 2
    # no commit for partition 1: describe shows "-", not lag=high
    assert lag[1]["committed"] is None and lag[1]["lag"] is None
    # caught-up consumer shows zero lag
    broker.commit_offsets("g", {("lagt", 0): marks[0], ("lagt", 1): marks[1]})
    assert all(v["lag"] == 0 for v in broker.consumer_lag("g", "lagt").values())


def test_init_producer_id_allocation_and_zombie_fencing(broker):
    """InitProducerId: idempotent-only producers get fresh ids; a
    transactional producer re-initializing keeps its id with a bumped
    epoch and its in-flight transaction is ABORTED (zombie fencing)."""
    from tansu_spark.broker.broker import InvalidTxnState

    a, ea = broker.init_producer_id()
    b, eb = broker.init_producer_id()
    assert a != b and ea == eb == 0

    pid1, e1 = broker.init_producer_id("app-1")
    assert e1 == 0
    broker.create_topic("t", partitions=1)
    broker.produce_rows("t", _rows(3), txn_id="app-1")
    assert broker.transactions()["app-1"]["state"] == "open"

    # the app restarts: same transactional id, epoch bumps, zombie txn dies
    pid2, e2 = broker.init_producer_id("app-1")
    assert pid2 == pid1 and e2 == 1
    assert broker.transactions()["app-1"]["state"] == "aborted"
    assert broker.fetch("t", isolation="read_committed").count() == 0
    with pytest.raises(InvalidTxnState):
        broker.produce_rows("t", _rows(1), txn_id="app-1")  # old txn is dead


def test_txn_offset_commit_atomic_with_produce(broker):
    """TxnOffsetCommit: consumer offsets staged in a transaction apply
    only on commit — the consume-transform-produce EOS loop. Abort
    discards them."""
    from tansu_spark.broker.broker import InvalidTxnState

    broker.create_topic("src", partitions=1)
    broker.create_topic("dst", partitions=1)
    broker.produce_rows("src", _rows(4))

    # consume src, produce to dst, stage the cursor — all under one txn
    broker.produce_rows("dst", _rows(4, prefix="out"), txn_id="etl")
    broker.txn_offset_commit("etl", "g-etl", {("src", 0): 4})
    assert broker.fetch_offsets("g-etl", "src") == {}  # not visible yet
    assert broker.fetch("dst", isolation="read_committed").count() == 0

    broker.end_transaction("etl", commit=True)
    assert broker.fetch_offsets("g-etl", "src") == {0: 4}  # atomic with data
    assert broker.fetch("dst", isolation="read_committed").count() == 4

    # aborted txn: staged offsets never land
    broker.produce_rows("dst", _rows(1), txn_id="etl2")
    broker.txn_offset_commit("etl2", "g-etl", {("src", 0): 99})
    broker.end_transaction("etl2", commit=False)
    assert broker.fetch_offsets("g-etl", "src") == {0: 4}
    with pytest.raises(InvalidTxnState):
        broker.txn_offset_commit("etl2", "g-etl", {("src", 0): 5})


def test_txn_produce_raced_terminal_leaves_no_orphan_records(spark, tmp_path):
    """ADVICE r2: if the sweep/EndTxn flips a txn terminal while a
    transactional produce's segment write is in flight, the produce must
    raise WITHOUT bumping the watermark and WITHOUT leaving orphan rows
    that would collide with offsets the next produce assigns."""
    from tansu_spark.broker.broker import Broker, InvalidTxnState

    class RacingBroker(Broker):
        """Flips the txn aborted between the upfront check and the
        under-lock re-check (the publish of the staged write is the first
        hook inside that window)."""

        def _publish(self, topic, *args):
            if getattr(self, "_race_once", False):
                self._race_once = False
                from tansu_spark.broker.state import file_lock, read_json, write_json_atomic

                with file_lock(self._txn_lock_path()):
                    txns = read_json(self._txns_path(), {})
                    txns["racy2"]["state"] = "aborted"
                    write_json_atomic(self._txns_path(), txns)
            return super()._publish(topic, *args)

    b = RacingBroker(spark, str(tmp_path / "store"))
    b.create_topic("t", partitions=1)
    b.produce_rows("t", _rows(3))  # offsets 0..2
    b.produce_rows("t", _rows(1), txn_id="racy")  # opens the txn
    b.end_transaction("racy", commit=False)
    # reset: fresh open txn, then race it during the NEXT produce
    b.produce_rows("t", _rows(2), txn_id="racy2")
    b._race_once = False

    b2_rows_before = b.fetch("t", isolation="read_uncommitted").count()
    from tansu_spark.broker.state import read_json
    import os

    marks_before = read_json(b._state("t", "watermarks.json"), {})
    files_before = b._segment_files("t")

    b._race_once = True
    with pytest.raises(InvalidTxnState):
        b.produce_rows("t", _rows(5), txn_id="racy2")

    # watermark unchanged, no orphan files, visible rows unchanged
    assert read_json(b._state("t", "watermarks.json"), {}) == marks_before
    assert b._segment_files("t") == files_before
    assert b.fetch("t", isolation="read_uncommitted").count() == b2_rows_before

    # the offset space is clean: a fresh produce reuses those offsets
    res = b.produce_rows("t", _rows(2))
    df = b.fetch("t", isolation="read_uncommitted")
    offs = sorted(r["offset"] for r in df.select("offset").collect())
    assert offs == sorted(set(offs)), "duplicate offsets after raced produce"


def test_failed_produce_does_not_burn_idempotence_fence(spark, tmp_path):
    """ADVICE r3: the fence (producers.json last_sequence) must advance
    only after the produce fully succeeds — a produce that fails
    mid-flight must leave the sequence unburned so the client's retry of
    the SAME batch lands instead of being dropped as a duplicate."""
    from tansu_spark.broker.broker import Broker
    from tansu_spark.broker.state import read_json

    b = Broker(spark, str(tmp_path / "store"))
    b.create_topic("t", partitions=1)

    # partition 5 on a 1-partition topic → the unknown-partition error,
    # raised AFTER the fence check (the fence used to be persisted there).
    bad = spark.createDataFrame(
        [(b"k", b"v", 5)], "key binary, value binary, partition int"
    )
    with pytest.raises(ValueError, match="unknown partition"):
        b.produce("t", bad, producer_id=7, producer_epoch=0, base_sequence=10)

    fences = read_json(b._state("t", "producers.json"), {})
    assert fences.get("7", {"last_sequence": -1})["last_sequence"] < 10, (
        "failed produce burned the idempotence sequence"
    )

    # the retry of the same (pid, epoch, sequence) batch must LAND
    good = spark.createDataFrame(
        [(b"k", b"v", 0)], "key binary, value binary, partition int"
    )
    res = b.produce("t", good, producer_id=7, producer_epoch=0, base_sequence=10)
    assert res == {0: 0}, "retry after failed produce was dropped as duplicate"
    assert read_json(b._state("t", "producers.json"), {})["7"]["last_sequence"] == 10

    # and a true duplicate of the now-landed batch IS dropped
    assert b.produce("t", good, producer_id=7, producer_epoch=0, base_sequence=10) == {}


def test_unknown_partition_reject_leaves_no_orphan_segments(spark, tmp_path):
    """A mixed batch with one row past the topic's partitions is rejected
    AFTER its write; the reject path must scrub every segment it landed
    (the in-range partition=0 file too), or the next produce's offsets
    duplicate the orphan's."""
    from tansu_spark.broker.broker import Broker

    b = Broker(spark, str(tmp_path / "store"))
    b.create_topic("t", partitions=1)
    mixed = spark.createDataFrame(
        [(b"k", b"v", 0), (b"k2", b"v", 5)], "key binary, value binary, partition int"
    )
    files_before = b._segment_files("t")
    with pytest.raises(ValueError, match="unknown partition"):
        b.produce("t", mixed)
    assert b._segment_files("t") == files_before

    b.produce_rows("t", _rows(2))
    offs = sorted(r.offset for r in b.fetch("t").select("offset").collect())
    assert offs == [0, 1]


def test_rejected_batch_never_visible_to_readers(spark, tmp_path, monkeypatch):
    """Readers that list the data dir without the watermark (records(),
    topic_stream's file source, the lake sink's typed_records) must not
    see a rejected batch, not even while the produce checks it: the write
    stages under data/_staging, and only a batch that passed is published.
    A produce that died mid-write leaves its staging behind, equally
    unseen, and the next produce clears it."""
    import json
    import os

    from pyspark.sql import Observation

    from tansu_spark.broker import broker as broker_mod
    from tansu_spark.broker.broker import Broker
    from tansu_spark.registry import SchemaRegistry
    from tansu_spark.registry.registry import ValidationError

    schemas = tmp_path / "schemas"
    schemas.mkdir()
    (schemas / "t.json").write_text(json.dumps({
        "type": "object",
        "properties": {"value": {"type": "object", "required": ["n"],
                                 "properties": {"n": {"type": "integer"}}}},
    }))
    b = Broker(spark, str(tmp_path / "store"), registry=SchemaRegistry(str(schemas)))
    b.create_topic("t", partitions=1)
    b.produce_rows("t", [{"key": "k", "value": json.dumps({"n": i})} for i in range(2)])
    files_before = b._segment_files("t")

    seen = []

    class Peek(Observation):
        """Lists and reads the topic the moment the write job finished,
        before the produce has checked the batch."""

        @property
        def get(self):
            seen.append((b._segment_files("t"), b.records("t").count()))
            return super().get

    monkeypatch.setattr(broker_mod, "Observation", Peek)
    with pytest.raises(ValidationError):
        b.produce_rows("t", [{"key": "k", "value": json.dumps({"n": "x"})}])
    mixed = spark.createDataFrame(
        [(b"k", b'{"n": 1}', 0), (b"k2", b'{"n": 2}', 5)],
        "key binary, value binary, partition int",
    )
    with pytest.raises(ValueError, match="unknown partition"):
        b.produce("t", mixed)
    assert seen == [(files_before, 2), (files_before, 2)]
    monkeypatch.undo()

    staging = os.path.join(b._data_dir("t"), "_staging")
    b.records("t").write.partitionBy("partition").parquet(staging)  # a dead produce
    assert b._segment_files("t") == files_before
    assert b.records("t").count() == 2
    b.produce_rows("t", [{"key": "k", "value": json.dumps({"n": 9})}])
    assert not os.path.exists(staging)
    assert sorted(r.offset for r in b.fetch("t").select("offset").collect()) == [0, 1, 2]


@pytest.mark.parametrize(
    "n_schema",
    [{"type": "integer", "minimum": 0}, {"oneOf": [{"type": "integer"}, {"type": "string"}]}],
    ids=["compiled", "jsonschema"],
)
def test_validated_produce_runs_no_extra_jobs(spark, tmp_path, n_schema):
    """Validation rides the produce write job: a produce to a schema'd
    topic runs exactly as many Spark jobs as the same produce with
    tansu.schema.validation=false — for the compiled predicate and for
    the Arrow-batched UDF alike."""
    import json

    from tansu_spark.broker.broker import Broker
    from tansu_spark.harness import timed
    from tansu_spark.registry import SchemaRegistry

    schemas = tmp_path / "schemas"
    schemas.mkdir()
    value = {"type": "object", "required": ["n"], "properties": {"n": n_schema}}
    for topic in ("checked", "unchecked"):
        (schemas / f"{topic}.json").write_text(
            json.dumps({"type": "object", "properties": {"value": value}})
        )
    b = Broker(spark, str(tmp_path / "store"), registry=SchemaRegistry(str(schemas)))
    b.create_topic("checked", partitions=2)
    b.create_topic("unchecked", partitions=2, config={"tansu.schema.validation": "false"})
    batch = b.rows_to_frame([{"key": f"k{i}", "value": json.dumps({"n": i})} for i in range(50)])
    jobs = {t: timed(spark, t, lambda t=t: b.produce(t, batch))[1] for t in ("checked", "unchecked")}
    assert jobs["checked"] == jobs["unchecked"], jobs


def test_committed_pending_offsets_replayed_on_startup(spark, tmp_path):
    """ADVICE r2: crash between the committed state-flip and the staged
    consumer-offset apply must not drop the offsets — startup replays
    them idempotently and clears the staged list."""
    from tansu_spark.broker.broker import Broker
    from tansu_spark.broker.state import read_json, write_json_atomic

    root = str(tmp_path / "store")
    b = Broker(spark, root)
    b.create_topic("src", partitions=1)
    b.create_topic("dst", partitions=1)
    b.produce_rows("dst", _rows(2), txn_id="etl")
    b.txn_offset_commit("etl", "g", {("src", 0): 7})

    # Simulate the crash window: state flipped + offsets_pending persisted,
    # but the apply never ran (exactly what end_transaction's first atomic
    # swap writes).
    txns = read_json(b._txns_path(), {})
    txns["etl"]["state"] = "committed"
    txns["etl"]["offsets_pending"] = True
    write_json_atomic(b._txns_path(), txns)
    assert b.fetch_offsets("g", "src") == {}

    b2 = Broker(spark, root)  # startup replay
    assert b2.fetch_offsets("g", "src") == {0: 7}
    t = read_json(b2._txns_path(), {})["etl"]
    assert "offsets" not in t and "offsets_pending" not in t

    # normal commit path also clears the staged list
    b2.produce_rows("dst", _rows(1), txn_id="etl2")
    b2.txn_offset_commit("etl2", "g", {("src", 0): 9})
    b2.end_transaction("etl2", commit=True)
    t2 = read_json(b2._txns_path(), {})["etl2"]
    assert "offsets" not in t2 and "offsets_pending" not in t2
    assert b2.fetch_offsets("g", "src") == {0: 9}

    # aborted txns drop their staged list from txns.json
    b2.produce_rows("dst", _rows(1), txn_id="etl3")
    b2.txn_offset_commit("etl3", "g", {("src", 0): 99})
    b2.end_transaction("etl3", commit=False)
    assert "offsets" not in read_json(b2._txns_path(), {})["etl3"]
    assert b2.fetch_offsets("g", "src") == {0: 9}


def test_produce_rows_pipelined_matches_sequential(broker):
    """The double-buffered produce path (r8 verdict ask #4) must be a
    pure throughput optimization: same records, same contiguous
    offsets, same fetch result as sequential produce_rows — the helper
    thread only BUILDS frames; every commit stays on the caller's
    thread in order."""
    broker.create_topic("seq", partitions=2)
    broker.create_topic("pipe", partitions=2)
    rows = _rows(250, prefix="p")
    offs_seq = [
        broker.produce_rows("seq", rows[i : i + 50])
        for i in range(0, 250, 50)
    ]
    offs = broker.produce_rows_pipelined("pipe", rows, batch_size=50)
    assert len(offs) == 5  # one base-offsets dict per committed batch
    # batch-for-batch identical base offsets to the sequential twin
    assert offs == offs_seq
    marks_s = broker.list_offsets("seq", "latest")
    marks_p = broker.list_offsets("pipe", "latest")
    assert marks_s == marks_p and sum(marks_p.values()) == 250
    a = {
        (r["partition"], r["offset"], bytes(r["key"]), bytes(r["value"]))
        for r in broker.fetch("seq").collect()
    }
    b = {
        (r["partition"], r["offset"], bytes(r["key"]), bytes(r["value"]))
        for r in broker.fetch("pipe").collect()
    }
    assert a == b
    # the single-batch fast path returns one dict and produces once
    broker.create_topic("one", partitions=1)
    offs1 = broker.produce_rows_pipelined("one", _rows(7), batch_size=50)
    assert len(offs1) == 1 and broker.list_offsets("one", "latest") == {0: 7}


def test_offsets_follow_within_partition_input_order_for_presorted_frame(
    broker,
):
    """Pins the cross-module contract the kafka lag/txn report queries
    rely on (ADVICE r10): for an explicitly-partitioned input frame that
    is `repartition(n, "partition").sortWithinPartitions(sort_key)`'d,
    per-partition offsets are assigned in that within-partition sort
    order. The mechanism is produce's `_seq = monotonically_increasing_id`
    ordering by (Spark partition ordinal, position), which a broker
    refactor could silently break without this test — the queries'
    global orderBy -> partition-local sort rewrite is only
    offset-identical while this holds."""
    spark = broker.spark
    broker.create_topic("ord", partitions=4)
    # event_ids deliberately NOT aligned with insertion order
    df = (
        spark.range(0, 400)
        .select(
            (F.col("id") * 7919 % 400).alias("event_id"),
            (F.col("id") % 4).cast("int").alias("partition"),
        )
        .select(
            F.col("event_id").cast("string").cast("binary").alias("key"),
            F.col("event_id").cast("string").cast("binary").alias("value"),
            "partition",
            "event_id",
        )
        .repartition(4, "partition")
        .sortWithinPartitions("event_id")
        .drop("event_id")
    )
    broker.produce("ord", df)
    for p in range(4):
        rows = (
            broker.fetch("ord", partition=p)
            .select("offset", "key")
            .collect()
        )
        by_offset = [
            int(bytes(r["key"]).decode())
            for r in sorted(rows, key=lambda r: r["offset"])
        ]
        # offsets must walk the partition's rows in event_id order
        assert by_offset == sorted(by_offset), f"partition {p}"
        assert len(by_offset) == 100
