"""Streaming front-end tests: topic as stream source, exactly-once stream
produce (batch-id idempotence), windowed aggregation, sessionization
(stateful vs batch cross-check), generator determinism."""

from __future__ import annotations

import datetime
import os

import pytest

from pyspark.sql import functions as F

from tansu_spark.broker import Broker
from tansu_spark.streaming import (
    generate_batch,
    sessionize,
    stream_to_topic,
    topic_stream,
    windowed_counts,
)
from tansu_spark.streaming.generator import TAXI_FIELDS


@pytest.fixture()
def broker(spark, tmp_path):
    return Broker(spark, str(tmp_path / "store"))


def test_topic_stream_reads_produced_segments(broker, tmp_path):
    broker.create_topic("t", partitions=1)
    broker.produce_rows("t", [{"key": f"k{i}", "value": f"v{i}"} for i in range(9)])
    q = (
        topic_stream(broker, "t")
        .writeStream.format("memory")
        .queryName("t_mem")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert broker.spark.sql("select count(*) n from t_mem").first().n == 9


def test_stream_to_topic_exactly_once_on_replay(broker, tmp_path):
    """Replaying the same micro-batch id must not duplicate records —
    the batch-id-as-sequence idempotence fence."""
    broker.create_topic("dst", partitions=1)
    batch = broker.spark.createDataFrame(
        [(b"a", b"1"), (b"b", b"2")], "key binary, value binary"
    )
    broker.produce("dst", batch, producer_id=7, base_sequence=0)
    # replay of batch 0 (restart-before-checkpoint scenario)
    broker.produce("dst", batch, producer_id=7, base_sequence=0)
    broker.produce("dst", batch, producer_id=7, base_sequence=1)
    assert broker.fetch("dst").count() == 4  # 2 batches, not 3


def test_stream_to_topic_end_to_end(broker, tmp_path):
    broker.create_topic("src", partitions=1)
    broker.create_topic("mirror", partitions=1)
    broker.produce_rows("src", [{"key": f"k{i}", "value": f"v{i}"} for i in range(5)])
    q = stream_to_topic(
        broker,
        "mirror",
        topic_stream(broker, "src").select("key", "value", "timestamp"),
        checkpoint=str(tmp_path / "ckpt2"),
    )
    q.awaitTermination(120)
    assert broker.fetch("mirror").count() == 5


def test_stream_to_lake_exactly_once(broker, tmp_path):
    """Continuous topic→lake materialization: rows land once, and a
    replayed/extra trigger (restart-before-checkpoint, or a trigger with
    no new segments) appends nothing — the offset-frontier store is the
    idempotence fence."""
    from tansu_spark.lake import LakeSink
    from tansu_spark.streaming import stream_to_lake

    broker.create_topic("lk", partitions=2)
    sink = LakeSink(broker, str(tmp_path / "lake"))
    rows = [
        {"key": f"k{i}", "value": f'{{"city": "c{i % 3}", "fare": {float(i)}}}'}
        for i in range(12)
    ]
    broker.produce_rows("lk", rows)
    q = stream_to_lake(broker, sink, "lk", checkpoint=str(tmp_path / "lckpt"))
    q.awaitTermination(120)
    assert sink.read("lk").count() == 12
    # replay: a second availableNow run over the same segments
    q2 = stream_to_lake(broker, sink, "lk", checkpoint=str(tmp_path / "lckpt2"))
    q2.awaitTermination(120)
    assert sink.read("lk").count() == 12
    # new produce then another run: only the delta lands
    broker.produce_rows("lk", rows[:3])
    q3 = stream_to_lake(broker, sink, "lk", checkpoint=str(tmp_path / "lckpt3"))
    q3.awaitTermination(120)
    assert sink.read("lk").count() == 15


def test_windowed_counts_batch_form(broker):
    broker.create_topic("w", partitions=1)
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 30)
    broker.produce_rows(
        "w",
        [
            {"key": "a", "value": "1", "timestamp": t0},
            {"key": "a", "value": "2", "timestamp": t0 + datetime.timedelta(seconds=10)},
            {"key": "a", "value": "3", "timestamp": t0 + datetime.timedelta(seconds=70)},
        ],
    )
    rows = windowed_counts(broker.records("w"), window="1 minute").collect()
    got = sorted((r.window.start.minute, r.n_records) for r in rows)
    assert got == [(0, 2), (1, 1)]


def test_sessionize_batch_and_stream_agree(broker, tmp_path):
    broker.create_topic("s", partitions=1)
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    for k, offsets in {"u1": [0, 60, 120, 1000, 1030], "u2": [5, 700]}.items():
        rows += [
            {"key": k, "value": "x", "timestamp": t0 + datetime.timedelta(seconds=s)}
            for s in offsets
        ]
    broker.produce_rows("s", rows)

    batch = sessionize(broker.records("s"), gap_seconds=300)
    got = {
        (r.key, r.n_events)
        for r in batch.collect()
    }
    # u1: [0,60,120] then [1000,1030]; u2: [5] then [700]
    assert got == {("u1", 3), ("u1", 2), ("u2", 1), ("u2", 1)}

    # streaming path: same data through applyInPandasWithState; closed
    # sessions (those followed by a gap within the data) must match the
    # batch result's closed set
    stream = sessionize(
        topic_stream(broker, "s"), gap_seconds=300
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sessions_mem")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    closed = {
        (r.key, r.n_events)
        for r in broker.spark.sql("select * from sessions_mem").collect()
    }
    # sessions closed by in-stream gaps (final open sessions stay in state)
    assert closed == {("u1", 3), ("u2", 1)}


def test_generator_deterministic_and_valid(spark, broker):
    a = generate_batch(spark, TAXI_FIELDS, 50, seed=42).collect()
    b = generate_batch(spark, TAXI_FIELDS, 50, seed=42).collect()
    assert a == b  # same seed → identical batch
    c = generate_batch(spark, TAXI_FIELDS, 50, seed=43).collect()
    assert a != c
    import json

    vals = [json.loads(bytes(r.value)) for r in a]
    assert all(1 <= v["vendor_id"] <= 2 for v in vals)
    assert all(1000 <= v["trip_id"] <= 2000 for v in vals)
    assert all(0.5 <= v["trip_distance"] < 30.0 for v in vals)
    assert {v["store_and_fwd"] for v in vals} <= {0, 1}
    # generated batches flow through the produce path
    broker.create_topic("taxi", partitions=2)
    broker.produce("taxi", generate_batch(spark, TAXI_FIELDS, 20, seed=1))
    assert sum(broker.list_offsets("taxi", "latest").values()) == 20


def test_dedup_stream_drops_duplicates_across_segments(broker, tmp_path):
    """Duplicate payloads produced in separate batches (separate segment
    files) must surface once in the streamed view; the batch twin agrees."""
    from tansu_spark.streaming import dedup_stream

    broker.create_topic("dup", partitions=1)
    broker.produce_rows("dup", [{"key": f"k{i}", "value": f"v{i % 3}"} for i in range(6)])
    broker.produce_rows("dup", [{"key": f"k{i}", "value": f"v{i % 3}"} for i in range(6, 9)])
    q = (
        dedup_stream(topic_stream(broker, "dup"), key_cols=["value"])
        .writeStream.format("memory")
        .queryName("dup_mem")
        .option("checkpointLocation", str(tmp_path / "ckpt_dup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        bytes(r["value"]).decode()
        for r in broker.spark.sql("select value from dup_mem").collect()
    }
    assert got == {"v0", "v1", "v2"}
    batch = dedup_stream(broker.fetch("dup"), key_cols=["value"])
    assert batch.count() == 3
    assert {bytes(r["value"]).decode() for r in batch.collect()} == got


def test_materialize_topic_compaction_with_tombstones(broker, tmp_path):
    """Streaming MERGE of a keyed topic == log compaction: the table
    converges to the latest value per key, a null-value tombstone removes
    its key, and a second availableNow run (replay / no new data) changes
    nothing — the merge batch fence is the idempotence guarantee."""
    from tansu_spark.lake.merge import MergeTable
    from tansu_spark.streaming.source import materialize_topic

    broker.create_topic("kv", partitions=2)
    broker.produce_rows(
        "kv",
        [
            {"key": "a", "value": "1"},
            {"key": "b", "value": "1"},
            {"key": "a", "value": "2"},     # update a
            {"key": "c", "value": "1"},
            {"key": "b", "value": None},    # tombstone b
            {"key": "a", "value": "3"},     # update a again, same batch
        ],
    )
    table = MergeTable(broker.spark, str(tmp_path / "kv_tbl"), ["key"], n_buckets=4)
    q = materialize_topic(broker, "kv", table, checkpoint=str(tmp_path / "kvc"))
    q.awaitTermination(120)
    got = {r["key"]: r["value"] for r in table.read().collect()}
    assert got == {"a": "3", "c": "1"}

    # Replay run: fence makes it a no-op.
    q2 = materialize_topic(broker, "kv", table, checkpoint=str(tmp_path / "kvc"))
    q2.awaitTermination(120)
    assert {r["key"]: r["value"] for r in table.read().collect()} == got

    # New segment: b revived, a tombstoned — table follows.
    broker.produce_rows(
        "kv", [{"key": "b", "value": "9"}, {"key": "a", "value": None}]
    )
    q3 = materialize_topic(broker, "kv", table, checkpoint=str(tmp_path / "kvc"))
    q3.awaitTermination(120)
    assert {r["key"]: r["value"] for r in table.read().collect()} == {
        "b": "9", "c": "1",
    }


def test_running_totals_stream_matches_batch(broker, tmp_path):
    """transformWithState (Spark 4 arbitrary-state API, RocksDB store):
    per-key running totals maintained across micro-batches must end equal
    to the batch groupBy twin. The streaming path needs the python
    protobuf package (the transformWithState state-server protocol); in
    environments without it the operator must fail with a clear
    NotImplementedError and the batch twin must stand alone."""
    from tansu_spark.streaming import running_totals

    broker.create_topic("t", partitions=1)
    broker.produce_rows(
        "t", [{"key": f"k{i % 3}", "value": "x" * (i + 1)} for i in range(6)]
    )
    broker.produce_rows(
        "t", [{"key": f"k{i % 2}", "value": "y" * (i + 1)} for i in range(4)]
    )

    want = {
        r.key: (r.n_records, r.value_bytes)
        for r in running_totals(broker.records("t")).collect()
    }
    # batch one: value lengths 1..6 over keys k0,k1,k2,k0,k1,k2;
    # batch two: lengths 1..4 over k0,k1,k0,k1.
    assert want["k0"] == (4, (1 + 4) + (1 + 3))
    assert want["k1"] == (4, (2 + 5) + (2 + 4))
    assert want["k2"] == (2, 3 + 6)

    try:
        from google.protobuf import descriptor  # noqa: F401

        has_protobuf = True
    except ImportError:
        has_protobuf = False

    stream = topic_stream(broker, "t", max_files_per_trigger=1)
    if not has_protobuf:
        with pytest.raises(NotImplementedError, match="protobuf"):
            running_totals(stream)
        return

    q = (
        running_totals(stream)
        .writeStream.format("memory")
        .queryName("totals_mem")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_totals"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r.key: (r.n_records, r.value_bytes)
        for r in broker.spark.sql("select * from totals_mem").collect()
    }
    assert got == want


def test_enrich_stream_picks_up_dimension_refresh(broker, tmp_path):
    """Stream-static join semantics: the static side is re-read per
    micro-batch, so overwriting the dimension between triggers changes
    the NEXT batch's enrichment without restarting the query (same
    checkpoint, foreachBatch sink — memory sinks cannot resume)."""
    from pyspark.sql import functions as F

    from tansu_spark.streaming import enrich_stream

    spark = broker.spark
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [("k0", "bronze"), ("k1", "silver")], "key string, tier string"
    ).write.mode("overwrite").parquet(dim_path)

    broker.create_topic("t", partitions=1)
    broker.produce_rows("t", [{"key": "k0", "value": "a"}, {"key": "k1", "value": "b"}])

    dim = spark.read.parquet(dim_path)
    stream = topic_stream(broker, "t").select(
        F.col("key").cast("string").alias("key"), "offset"
    )
    seen: list[tuple] = []

    def run():
        q = (
            enrich_stream(stream, dim, on="key")
            .writeStream.foreachBatch(
                lambda b, _id: seen.extend(
                    (r.key, r.offset, r.tier) for r in b.collect()
                )
            )
            .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert sorted(seen) == [("k0", 0, "bronze"), ("k1", 1, "silver")]

    # refresh the dimension and produce more; a fresh dim DataFrame on
    # the next run (same checkpoint -> only the new segment) sees the new
    # tiers — the restart-refresh contract in enrich_stream's docstring
    spark.createDataFrame(
        [("k0", "gold"), ("k1", "silver")], "key string, tier string"
    ).write.mode("overwrite").parquet(dim_path)
    broker.produce_rows("t", [{"key": "k0", "value": "c"}])
    dim = spark.read.parquet(dim_path)  # re-resolve the file listing
    seen.clear()
    run()
    assert seen == [("k0", 2, "gold")]


def test_ewma_by_key_stream_matches_batch_across_restarts(broker, tmp_path):
    """The streaming EWMA (applyInPandasWithState, 3-scalar state per
    key) must converge to the batch fold — INCLUDING across a query
    restart: phase 1 processes the first half of each key's values,
    phase 2 restarts from the checkpoint and processes the rest seeded
    by the recovered state (micro-batches ARE the chunks of the
    two-stage composition law)."""
    import math

    from tansu_spark.streaming.source import ewma_by_key, topic_stream

    broker.create_topic("ew", partitions=1)
    t0 = datetime.datetime(2024, 1, 1)
    series = {
        "a": [10.0, 20.0, 5.0, 40.0, 15.0, 30.0],
        "b": [100.0, 100.0, 700.0, 100.0],
    }

    def produce(phase):
        rows = []
        for k, vals in series.items():
            half = len(vals) // 2
            part = vals[:half] if phase == 0 else vals[half:]
            base = 0 if phase == 0 else half
            rows += [
                {
                    "key": k,
                    "value": str(v),
                    "timestamp": t0 + datetime.timedelta(seconds=base + i),
                }
                for i, v in enumerate(part)
            ]
        broker.produce_rows("ew", rows)

    emitted: list = []

    def run_stream():
        # foreachBatch (supports checkpoint RECOVERY, unlike the memory
        # sink) + one file per micro-batch so each segment is its own
        # chunk of the fold
        q = (
            ewma_by_key(topic_stream(broker, "ew", max_files_per_trigger=1))
            .writeStream.foreachBatch(
                lambda df, _epoch: emitted.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ewma_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    produce(0)
    run_stream()
    assert emitted, "phase-1 stream emitted nothing"
    produce(1)
    run_stream()  # restart: state recovered from checkpoint

    last = {}
    for r in emitted:
        last[r["key"]] = r  # updates in emission order; later wins
    # batch twin over the full topic
    batch = {r["key"]: r for r in ewma_by_key(broker.records("ew")).collect()}
    assert set(last) == set(series) == set(batch)
    for k, vals in series.items():
        e, m = vals[0], 0.0
        for x in vals[1:]:
            m = max(m, abs(x - e))
            e = e + 0.25 * (x - e)
        for got in (last[k], batch[k]):
            assert got["n_events"] == len(vals), k
            assert math.isclose(got["ewma"], e, rel_tol=0, abs_tol=1e-12), k
            assert math.isclose(
                got["max_deviation"], m, rel_tol=0, abs_tol=1e-12
            ), k


def test_ewma_batch_twin_filters_dirty_values(broker):
    """Dirty input (non-numeric / empty values → null x, literal NaN)
    must join neither the fold nor n_events in the BATCH twin, matching
    the streaming kernel's `v is not None and v == v` filter — the
    stream==batch convergence contract on real-world data."""
    import math

    from tansu_spark.streaming.source import ewma_by_key

    broker.create_topic("ewd", partitions=1)
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("a", "10.0"), ("a", "not-a-number"), ("a", "20.0"), ("a", "NaN"),
        ("a", "5.0"), ("b", ""), ("b", "junk"),
    ]
    broker.produce_rows(
        "ewd",
        [
            {"key": k, "value": v, "timestamp": t0 + datetime.timedelta(seconds=i)}
            for i, (k, v) in enumerate(rows)
        ],
    )
    out = {r["key"]: r for r in ewma_by_key(broker.records("ewd")).collect()}
    # key b has no numeric value at all → no row (the stream never emits it)
    assert set(out) == {"a"}
    clean = [10.0, 20.0, 5.0]
    e, m = clean[0], 0.0
    for x in clean[1:]:
        m = max(m, abs(x - e))
        e = e + 0.25 * (x - e)
    assert out["a"]["n_events"] == len(clean)
    assert math.isclose(out["a"]["ewma"], e, rel_tol=0, abs_tol=1e-12)
    assert math.isclose(out["a"]["max_deviation"], m, rel_tol=0, abs_tol=1e-12)


def _events_nanos(sf_dir, out_dir) -> None:
    """The sf events file with ts rewritten as TIMESTAMP(NANOS) — INT64
    nanoseconds, with sub-microsecond digits so truncation would show."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    us = t["ts"].cast(pa.int64()).to_numpy()
    ns = pa.array(us * 1000 + t["event_id"].to_numpy() % 1000, pa.timestamp("ns"))
    t = t.set_column(t.schema.get_field_index("ts"), "ts", ns)
    pq.write_table(t, os.path.join(out_dir, "events.parquet"), version="2.6")


@pytest.mark.parametrize("ts_type", ["micros", "nanos"])
def test_load_stream_matches_load(spark, sf_dir, tmp_path, ts_type):
    """Both events loaders honour the ts contract (BIGINT nanoseconds)
    for either physical type, so a drained stream equals the batch read."""
    from tansu_spark.streaming import run_available_now
    from tansu_spark.tables import load, load_stream

    if ts_type == "nanos":
        _events_nanos(sf_dir, str(tmp_path))
        sf_dir = str(tmp_path)
    batch = load(spark, sf_dir, "events")
    streamed = run_available_now(
        load_stream(spark, sf_dir, "events"), f"load_stream_{ts_type}", "append"
    )
    assert dict(batch.dtypes)["ts"] == dict(streamed.dtypes)["ts"] == "bigint"
    want = sorted(map(tuple, batch.collect()))
    assert want and sorted(map(tuple, streamed.collect())) == want
    if ts_type == "nanos":
        assert any(r[1] % 1000 for r in want)  # nanosecond digits survive


def test_run_available_now_restores_shuffle_partitions_on_failure(spark, sf_dir):
    from tansu_spark.streaming import run_available_now
    from tansu_spark.tables import load_stream

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    failing = load_stream(spark, sf_dir, "events").select(
        F.raise_error(F.lit("boom")).alias("x")
    )
    with pytest.raises(Exception, match="boom"):
        run_available_now(failing, "run_available_now_failing", "append")
    assert spark.conf.get(key) == before
